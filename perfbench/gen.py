"""Seeded input generator for the benchmark.

Self-contained on purpose: it imports nothing from the engine package,
so a change to the engine cannot change the benchmark's inputs. The
same seed gives byte-identical output.

Three kinds of input:

- wire-format envelopes (one randomuser.me-style JSON object per line)
  with a known share of malformed lines, null ids and minors;
- a document corpus with the ``documents.parquet`` columns and planted
  exact and lightly edited near-duplicates;
- unit-length embeddings drawn from Gaussian clusters.

Each generator also returns the tallies the checks compare the
engine's outputs against.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- envelopes

MALFORMED_SHARE = 0.01
NULL_ID_SHARE = 0.01
MINOR_SHARE = 0.05

GENDERS = ("female", "male")
TITLES = {"female": ("Ms", "Mrs", "Miss", "Dr"), "male": ("Mr", "Dr", "Monsieur")}
FIRST = (
    "Emma Liam Olivia Noah Ava Elijah Sophia Lucas Mia Mateo Amelia Levi "
    "Harper Ezra Luna Kai Nora Leo Aria Omar Yara Ines Hugo Lea Sami Nadia"
).split()
LAST = (
    "Smith Garcia Martin Rossi Muller Dubois Silva Kim Nguyen Haddad Khan "
    "Novak Jensen Moreau Costa Ito Ahmed Lopez Weber Ivanova Brown Mercier"
).split()
COUNTRIES = {
    "France": ("Paris", "Lyon", "Nantes"),
    "Morocco": ("Rabat", "Fes", "Tangier"),
    "Germany": ("Berlin", "Bremen", "Bonn"),
    "Brazil": ("Recife", "Natal", "Belem"),
    "Canada": ("Ottawa", "Halifax", "Regina"),
}
STREETS = ("Main St", "Rue Haute", "Bahnhofstrasse", "Avenida Sol", "Oak Rd")
# Skewed domain popularity so the top-5 view is well defined.
DOMAINS = [
    ("gmail", "com", 30), ("yahoo", "fr", 18), ("outlook", "com", 14),
    ("proton", "me", 9), ("gmx", "de", 8), ("hotmail", "co.uk", 7),
    ("icloud", "com", 5), ("mail-box", "org", 4), ("orange", "fr", 3),
    ("web", "de", 2),
]
ADULT_YEARS = (1946, 2000)  # age > 18 for any year before 2019
MINOR_YEARS = (2012, 2024)  # age <= 18 until 2030

ENVELOPE = (
    '{"results":[{"gender":"%s","name":{"title":"%s","first":"%s","last":"%s"},'
    '"dob":{"date":"%04d-%02d-%02dT%02d:%02d:%02d.000Z","age":0},'
    '"location":{"street":{"number":%d,"name":"%s"},"city":"%s","state":"%s",'
    '"country":"%s","postcode":%d},"email":"%s",'
    '"login":{"uuid":%s,"username":"%s"},'
    '"registered":{"date":"%04d-%02d-%02dT08:00:00.000Z"}}]}'
)


@dataclass
class EnvelopeTally:
    """What a correct pipeline must produce from a set of envelopes."""

    envelopes: int = 0
    malformed: int = 0
    null_id: int = 0
    minors: int = 0
    ids: list = field(default_factory=list)
    genders: Counter = field(default_factory=Counter)
    domains: Counter = field(default_factory=Counter)
    dob_years: Counter = field(default_factory=Counter)

    def add(self, other: "EnvelopeTally") -> None:
        self.envelopes += other.envelopes
        self.malformed += other.malformed
        self.null_id += other.null_id
        self.minors += other.minors
        self.ids.extend(other.ids)
        self.genders.update(other.genders)
        self.domains.update(other.domains)
        self.dob_years.update(other.dob_years)

    @property
    def curated(self) -> int:
        return len(self.ids)

    def top_domains(self, k: int = 5) -> list[tuple[str, int]]:
        """Count desc, then domain asc: the dashboard's tie order."""
        return sorted(self.domains.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def age_histogram(self, current_year: int) -> dict[int, int]:
        """Ages the way the engine derives them: year(today) - year(dob)."""
        hist: Counter = Counter()
        for year, n in self.dob_years.items():
            hist[current_year - year] += n
        return dict(sorted(hist.items()))


def envelope_file(seed: int, file_no: int, n: int) -> tuple[str, EnvelopeTally]:
    """One JSONL file of ``n`` envelopes; ids are unique per (seed, file_no)."""
    rng = random.Random(f"env-{seed}-{file_no}")
    dom_names = [f"{d}.{t}" for d, t, _ in DOMAINS]
    dom_weights = [w for _, _, w in DOMAINS]
    countries = list(COUNTRIES)
    tally = EnvelopeTally(envelopes=n)
    lines = []
    for i in range(n):
        gender = GENDERS[rng.random() < 0.5]
        first, last = rng.choice(FIRST), rng.choice(LAST)
        minor = rng.random() < MINOR_SHARE
        year = rng.randint(*(MINOR_YEARS if minor else ADULT_YEARS))
        dom = rng.choices(dom_names, dom_weights)[0]
        user = f"{first.lower()}.{last.lower()}{rng.randint(1, 999)}"
        null_id = rng.random() < NULL_ID_SHARE
        uid = "null" if null_id else f'"{seed & 0xFFFFFFFF:08x}-{file_no & 0xFFFF:04x}-4000-8000-{i:012x}"'
        country = rng.choice(countries)
        line = ENVELOPE % (
            gender, rng.choice(TITLES[gender]), first, last,
            year, rng.randint(1, 12), rng.randint(1, 28),
            rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
            rng.randint(1, 9999), rng.choice(STREETS),
            rng.choice(COUNTRIES[country]), country, country,
            rng.randint(10000, 99999), f"{user}@{dom}", uid, user,
            rng.randint(2005, 2023), rng.randint(1, 12), rng.randint(1, 28),
        )
        if rng.random() < MALFORMED_SHARE:
            tally.malformed += 1
            lines.append(line[: len(line) // 2])
            continue
        lines.append(line)
        if null_id:
            tally.null_id += 1
            continue
        if minor:
            tally.minors += 1
            continue
        tally.ids.append(uid.strip('"'))
        tally.genders[gender] += 1
        tally.domains[dom.split(".")[0]] += 1
        tally.dob_years[year] += 1
    return "\n".join(lines) + "\n", tally


def envelope_traffic(rate: int | None, files: int, per_file: int) -> dict:
    return {
        "envelopes_per_s": rate,
        "files": files,
        "envelopes_per_file": per_file,
        "malformed_share": MALFORMED_SHARE,
        "null_id_share": NULL_ID_SHARE,
        "minor_share": MINOR_SHARE,
    }


# ---------------------------------------------------------------- documents

WS_LANGS = ("en", "de", "es", "fr")
NONWS_LANG = "zh"
N_SOURCES = 20
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_MIN_JACCARD = 0.7  # planted near-dups sit well above the 0.6 cut
WORD_SHINGLE = 3
CHAR_SHINGLE = 6


def _vocab(rng: random.Random, size: int) -> list[str]:
    syll = [a + b for a in "bcdfgklmnprstvz" for b in "aeiou"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _cjk_vocab(rng: random.Random, size: int) -> list[str]:
    words = set()
    while len(words) < size:
        words.add("".join(chr(rng.randint(0x4E00, 0x62FF)) for _ in range(rng.randint(1, 3))))
    return sorted(words)


def shingle_set(text: str, lang: str) -> set:
    """Word 3-grams, or char 6-grams for the no-whitespace script."""
    if lang == NONWS_LANG:
        n = CHAR_SHINGLE
        return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}
    w = text.split(" ")
    n = WORD_SHINGLE
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


@dataclass
class Corpus:
    rows: list  # (doc_id, text, lang, source, n_chars)
    planted: list  # (base_id, copy_id, kind)
    group: dict  # doc_id -> base_id for every planted doc

    def traffic(self) -> dict:
        kinds = Counter(k for _, _, k in self.planted)
        n = len(self.rows)
        return {
            "docs": n,
            "langs": len(WS_LANGS) + 1,
            "sources": N_SOURCES,
            "exact_dup_share": round(kinds["exact"] / n, 4),
            "near_dup_share": round(kinds["near"] / n, 4),
        }


def corpus(seed: int, n_docs: int, id_base: int) -> Corpus:
    """~n_docs documents: bases plus planted exact and near duplicates."""
    rng = random.Random(f"docs-{seed}")
    vocab = {lang: _vocab(random.Random(f"vocab-{lang}"), 3000) for lang in WS_LANGS}
    vocab[NONWS_LANG] = _cjk_vocab(random.Random("vocab-zh"), 3000)
    langs = WS_LANGS + (NONWS_LANG,)
    n_base = round(n_docs / (1 + EXACT_DUP_SHARE + NEAR_DUP_SHARE))
    rows, planted, group = [], [], {}
    sep = {lang: " " for lang in WS_LANGS}
    sep[NONWS_LANG] = ""
    for i in range(n_base):
        lang = rng.choice(langs)
        words = [rng.choice(vocab[lang]) for _ in range(rng.randint(40, 110))]
        rows.append([id_base + i, words, lang, f"src{rng.randrange(N_SOURCES)}"])
    next_id = id_base + n_base
    n_exact = round(n_docs * EXACT_DUP_SHARE)
    n_near = round(n_docs * NEAR_DUP_SHARE)
    bases = rng.sample(range(n_base), n_exact + n_near)
    for j, b in enumerate(bases):
        base_id, words, lang, _ = rows[b]
        if j < n_exact:
            copy, kind = list(words), "exact"
        else:
            kind = "near"
            while True:
                copy = list(words)
                for _ in range(rng.randint(1, 3)):
                    copy[rng.randrange(len(copy))] = rng.choice(vocab[lang])
                a = shingle_set(sep[lang].join(words), lang)
                if jaccard(a, shingle_set(sep[lang].join(copy), lang)) >= NEAR_DUP_MIN_JACCARD:
                    break
        rows.append([next_id, copy, lang, f"src{rng.randrange(N_SOURCES)}"])
        planted.append((base_id, next_id, kind))
        group[base_id] = base_id
        group[next_id] = base_id
        next_id += 1
    out = []
    for doc_id, words, lang, src in rows:
        text = sep[lang].join(words)
        out.append((doc_id, text, lang, src, len(text)))
    return Corpus(out, planted, group)


# --------------------------------------------------------------- embeddings

EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_SPREAD = 0.35


def embeddings(seed: int, n: int) -> np.ndarray:
    """Unit-length float32 vectors around EMB_CLUSTERS Gaussian centres,
    so cosine and euclidean rankings agree."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_CLUSTERS, size=n)
    x = centres[labels] + rng.normal(scale=EMB_SPREAD / np.sqrt(EMB_DIM), size=(n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def exact_topk(vectors: np.ndarray, query_rows: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k row indices per query, excluding the query itself."""
    sims = vectors[query_rows] @ vectors.T
    sims[np.arange(len(query_rows)), query_rows] = -np.inf
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1, kind="stable")
    return np.take_along_axis(top, order, axis=1)
