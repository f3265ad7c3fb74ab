"""Builders only plan.

A registered builder returns a lazy DataFrame. One that runs Spark
jobs before it returns makes ``describe()`` and ``explain()`` do real
work, and each job costs tens of milliseconds before it does anything.
The registry's tags name the builders that still do: ``stream`` ones
run their stream inside the builder by design, ``eager`` ones still
run jobs. Every other builder must start none on a warm call (the
first call may build a persisted artifact), and an ``eager`` builder
whose call starts none has outgrown its tag.
"""

from conftest import _jobs_started_by

from data_wrangler_spark import REGISTRY
from data_wrangler_spark.functions.distributed import release_pinned


def test_builders_only_plan_unless_tagged(spark, sf_dir):
    planning, stale_tags = {}, []
    for name, spec in sorted(REGISTRY.items()):
        if "stream" in spec.tags:
            continue
        eager = "eager" in spec.tags
        if not eager:
            spec.run(spark, sf_dir)  # cold: may build a persisted artifact
        _, jobs = _jobs_started_by(spark, lambda: spec.run(spark, sf_dir))
        release_pinned()
        if eager and not jobs:
            stale_tags.append(name)
        elif jobs and not eager:
            planning[name] = jobs
    # (untagged builders that start jobs: how many, eager ones that start none)
    assert (planning, stale_tags) == ({}, [])
