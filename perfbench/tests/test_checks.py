import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import engine
import gen
from pyspark.sql import functions as F


def _drain(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    tally = gen.EnvelopeTally()
    for f in range(3):
        text, t = gen.envelope_file(11, f, 400)
        (in_dir / f"part-{f}.jsonl").write_text(text)
        os.utime(in_dir / f"part-{f}.jsonl", (1e9 + f, 1e9 + f))
        tally.add(t)
    sinks = [str(tmp_path / "cur"), str(tmp_path / "srv")]
    dl = str(tmp_path / "dl")
    src = engine.read_envelope_file_stream(spark, str(in_dir), 1)
    engine.run_pipeline(spark, src, sinks, str(tmp_path / "ckpt"), dl).awaitTermination()
    return sinks, dl, tally


def test_checker_passes_then_catches_a_deleted_batch_dir(spark, tmp_path):
    sinks, dl, tally = _drain(spark, tmp_path)
    assert checks.check_sinks(sinks, dl, tally) == []
    shutil.rmtree(os.path.join(sinks[1], "batch_id=1"))
    bad = checks.check_sinks(sinks, dl, tally)
    assert bad and all(sinks[1] in b for b in bad)


def test_checker_catches_duplicate_ids(tmp_path):
    tally = gen.EnvelopeTally(ids=["a", "b"])
    for b, ids in ((0, ["a", "b"]), (1, ["b"])):
        os.makedirs(tmp_path / "s" / f"batch_id={b}")
        pq.write_table(pa.table({"id": ids}), tmp_path / "s" / f"batch_id={b}" / "p.parquet")
    bad = checks.check_sinks([str(tmp_path / "s")], str(tmp_path / "none"), tally)
    assert any("more than once" in b for b in bad)


def test_checker_catches_a_corrupted_dashboard_view(spark, tmp_path):
    sinks, _, tally = _drain(spark, tmp_path)
    year = datetime.datetime.now(datetime.timezone.utc).year
    profiles = spark.read.schema(engine.PROFILE_SCHEMA).parquet(sinks[1])
    views = engine.refresh(profiles)
    assert checks.check_views(views, tally, year) == []
    bumped = dict(views, gender_distribution=views["gender_distribution"].withColumn(
        "count", F.when(F.col("gender") == "male", F.col("count") + 1).otherwise(F.col("count"))))
    assert any("gender_distribution" in b for b in checks.check_views(bumped, tally, year))
    shifted = dict(views, age_ecdf=views["age_ecdf"].withColumn("cum_count", F.col("cum_count") + 1))
    assert any("age_ecdf" in b for b in checks.check_views(shifted, tally, year))
