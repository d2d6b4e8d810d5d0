"""Correctness checks: the engine's outputs against the generator's own
tallies. Each returns a list of failure messages (empty = passed).

Sink contents are read with pyarrow, not through the engine, so a
broken engine read path cannot hide a broken write path.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from gen import EnvelopeTally


def sink_table(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def check_sinks(sink_dirs: list[str], dead_letter: str, tally: EnvelopeTally) -> list[str]:
    """Every curated sink holds exactly the expected ids, each once, and
    the dead-letter sink holds one row per malformed line."""
    bad = []
    want = Counter(tally.ids)
    for d in sink_dirs:
        ids = sink_table(d, ["id"]).column("id").to_pylist() if os.path.isdir(d) else []
        got = Counter(ids)
        if len(ids) != tally.curated:
            bad.append(f"{d}: {len(ids)} curated rows, expected {tally.curated}")
        dupes = sum(1 for n in got.values() if n > 1)
        if dupes:
            bad.append(f"{d}: {dupes} ids appear more than once")
        if got.keys() != want.keys():
            bad.append(f"{d}: {len(got.keys() ^ want.keys())} ids differ from the generator's")
    dl = sink_table(dead_letter, ["_corrupt_record"]).num_rows if os.path.isdir(dead_letter) else 0
    if dl != tally.malformed:
        bad.append(f"dead-letter rows {dl}, expected {tally.malformed}")
    return bad


def view_rows(views: dict) -> dict:
    """The small dashboard views as plain Python values."""
    return {
        "gender": {r["gender"]: r["count"] for r in views["gender_distribution"].collect()},
        "top_domains": [(r["domain"], r["count"]) for r in views["top_email_domains"].collect()],
        "total": views["total_users"].collect()[0]["count"],
        "age_hist": {r["age"]: r["count"] for r in views["age_histogram"].collect()},
    }


def check_views_consistent(rows: dict) -> list[str]:
    """A refresh over a table that is still growing: the views must
    agree with each other."""
    bad = []
    if sum(rows["gender"].values()) != rows["total"]:
        bad.append(f"gender counts sum to {sum(rows['gender'].values())}, total {rows['total']}")
    if sum(rows["age_hist"].values()) != rows["total"]:
        bad.append(f"age histogram sums to {sum(rows['age_hist'].values())}, total {rows['total']}")
    return bad


def check_views(views: dict, tally: EnvelopeTally, current_year: int) -> list[str]:
    """The final dashboard equals the generator's tallies."""
    rows = view_rows(views)
    bad = []
    if rows["total"] != tally.curated:
        bad.append(f"total_users {rows['total']}, expected {tally.curated}")
    if rows["gender"] != dict(tally.genders):
        bad.append(f"gender_distribution {rows['gender']}, expected {dict(tally.genders)}")
    if rows["top_domains"] != tally.top_domains():
        bad.append(f"top_email_domains {rows['top_domains']}, expected {tally.top_domains()}")
    hist = tally.age_histogram(current_year)
    if rows["age_hist"] != hist:
        bad.append("age_histogram differs from the generator's ages")
    # ECDF: within each age, cum_count runs over that age's block of the
    # global order, so its max is the cumulative count up to that age.
    ecdf = {
        r["age"]: (r["lo"], r["hi"], r["n"])
        for r in views["age_ecdf"]
        .groupBy("age")
        .agg(F.min("cum_count").alias("lo"), F.max("cum_count").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    cum, want = 0, {}
    for age, n in hist.items():
        want[age] = (cum + 1, cum + n, n)
        cum += n
    if ecdf != want:
        bad.append("age_ecdf differs from the generator's cumulative ages")
    return bad
