"""Dashboard serving layer — the reference Dash app's data needs
(dashbord/dashbord.py:85-121) computed engine-side.

The reference re-scans all of MongoDB and recomputes four pandas
aggregates every 10 s poll. Here one ``refresh`` call computes all
four views off a single cached pass over the curated table; the UI
would read the four tiny results. (In production the stream itself
maintains these incrementally — streaming/pipeline.py
``streaming_gender_counts`` — and the dashboard reads pre-aggregated
state instead of triggering compute at all.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import aggregates


def refresh(
    profiles: DataFrame, previous: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """One scan, four views: gender distribution, top-5 email domains,
    total users, age distribution (ECDF parity form + scalable
    histogram).

    Each view comes back as rows held on the driver (a DataFrame over
    local data), so a poll leaves nothing in Spark's cache manager or
    block store: the next poll always reads the table as it is then,
    and no unrelated query over the same table is answered from a
    poll's views. The views are dashboard-sized by contract — four
    bounded aggregates plus ``age_ecdf``, one row per profile, which
    is for dashboard-sized tables only (``age_histogram`` is its
    scalable form). ``previous`` is accepted and ignored: a poll holds
    nothing for the next one to release."""
    spark = profiles.sparkSession
    profiles.persist()
    try:
        views = {
            "gender_distribution": aggregates.gender_distribution(profiles),
            "top_email_domains": aggregates.top_email_domains(profiles),
            "total_users": aggregates.total_users(profiles),
            "age_ecdf": aggregates.age_ecdf(profiles),
            "age_histogram": aggregates.age_histogram(profiles),
        }
        return {
            name: spark.createDataFrame(view.toPandas(), view.schema)
            for name, view in views.items()
        }
    finally:
        profiles.unpersist()
