"""The benchmark's handle on the engine: session start and stop, the
JVM's memory high-water mark and Spark's public job/task counters.

Everything the benchmark calls in the engine goes through the public
functions imported here.
"""

from __future__ import annotations

import os
import time

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.dedup import (  # noqa: F401
    lang_aware_shingles,
    lsh_candidate_pairs,
    near_dedup_minhash,
    near_dup_clusters,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.etl import (  # noqa: F401
    curate_profiles,
    parse_envelopes,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.similarity import (  # noqa: F401
    IVFPQ_NPROBE,
    ann_ivfpq_serve_batch,
    build_ivfpq_index,
    ivfpq_train,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.dashboard import (  # noqa: F401
    refresh,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.schemas import (  # noqa: F401
    PROFILE_SCHEMA,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.session import (
    get_spark,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (  # noqa: F401
    read_envelope_file_stream,
    run_pipeline,
)
from pyspark import SparkContext


def start_session(cpus: int, work: str):
    """get_spark with shuffle and spill space under the run's work
    directory. Returns (spark, seconds)."""
    t = time.perf_counter()
    spark = get_spark(
        "perfbench", cpus=cpus, extra_conf={"spark.local.dir": os.path.join(work, "spark-local")}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def jvm_pid() -> int | None:
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """VmHWM of the Spark JVM, in MiB."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class JobCounter:
    """Counts jobs and tasks through SparkContext.statusTracker over a
    set of job groups (the benchmark tags every job it causes)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: set = set()

    def group(self, name: str) -> None:
        """Tag jobs started from the calling thread with ``name``."""
        self.groups.add(name)
        self.sc.setJobGroup(name, name)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = {j for g in self.groups for j in st.getJobIdsForGroup(g)}
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks
