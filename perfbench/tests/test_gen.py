import numpy as np

import gen


def test_envelopes_byte_identical_for_a_seed():
    a, ta = gen.envelope_file(7, 3, 2000)
    b, tb = gen.envelope_file(7, 3, 2000)
    assert a == b and ta == tb
    assert a != gen.envelope_file(8, 3, 2000)[0]


def test_envelope_tally_accounts_for_every_line():
    text, t = gen.envelope_file(1, 0, 5000)
    assert len(text.splitlines()) == t.envelopes == 5000
    assert t.curated + t.malformed + t.null_id + t.minors == t.envelopes
    assert len(set(t.ids)) == t.curated
    assert t.malformed > 0 and t.null_id > 0 and t.minors > 0


def test_corpus_and_embeddings_identical_for_a_seed():
    a, b = gen.corpus(5, 600, 100), gen.corpus(5, 600, 100)
    assert a.rows == b.rows and a.planted == b.planted
    assert gen.corpus(6, 600, 100).rows != a.rows
    assert np.array_equal(gen.embeddings(5, 300), gen.embeddings(5, 300))


def test_planted_near_dups_clear_the_threshold():
    c = gen.corpus(2, 800, 0)
    text = {r[0]: (r[1], r[2]) for r in c.rows}
    for base, copy, kind in c.planted:
        (ta, lang), (tb, _) = text[base], text[copy]
        j = gen.jaccard(gen.shingle_set(ta, lang), gen.shingle_set(tb, lang))
        assert j == 1.0 if kind == "exact" else j >= gen.NEAR_DUP_MIN_JACCARD
    assert any(r[2] == gen.NONWS_LANG and " " not in r[1] for r in c.rows)


def test_exact_topk_excludes_the_query():
    v = gen.embeddings(1, 200)
    top = gen.exact_topk(v, np.array([0, 5]), 10)
    assert top.shape == (2, 10)
    assert 0 not in top[0] and 5 not in top[1]
    sims = v[0] @ v.T
    assert np.all(np.diff(sims[top[0]]) <= 0)
