"""Smoke-run the examples/ walkthroughs (VERDICT r11 #8).

The examples narrate the full gate story through the registry; running
them in CI keeps the walkthroughs from rotting the way hand-kept
inventory counts did. Each main() accepts an injected (spark, sf_dir)
so the run shares the test session (and never stops it)."""

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
    ),
)


def test_ingest_pipeline_example(spark, sf_dir, capsys):
    import ingest_pipeline

    ingest_pipeline.main(spark, sf_dir)
    out = capsys.readouterr().out
    # every stage must have printed a non-empty result block
    for marker in (
        "q_source_overlap",
        "q_dedup_incremental",
        "q_contamination_bloom",
        "q_dedup_incremental_2day",
        "q_dedup_index_compact",
        "q_stream_quarantine",
        "q_mix_temperature_sample",
        "quarantined by reason",
    ):
        assert marker in out, f"walkthrough lost its {marker} stage"
    # the narrated append-catch must be non-vacuous at the test factor
    assert "append-catches (day-2 vs day-1): 0" not in out


def test_quickstart_example(spark, sf_dir, capsys):
    import quickstart

    quickstart.main(spark, sf_dir)
    out = capsys.readouterr().out
    assert "registered queries" in out
    # envelope unwrapped and non-empty (the smoke run that caught the
    # walkthrough treating the {ok, results} envelope as a bare list)
    assert "GET /q/billing/lineitems/1 -> ok=True" in out
    assert "0 rows" not in out
    # schema introspection printed a real struct, not an empty one
    assert "struct<" in out
