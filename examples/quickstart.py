"""Quickstart: the engine end to end in ~40 lines.

    python examples/quickstart.py [sf_dir]

Loads the driver fixtures, runs a few registered queries through the
Engine facade, shows schema introspection + the physical plan, runs a
reference-catalog template, and serves the HTTP gateway for one
round-trip request — the surfaces a user migrating from the
reference touches on day one.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangler_spark.engine import Engine
from data_wrangler_spark.server import GatewayServer
from data_wrangler_spark.session import get_spark


def main(spark=None, sf_dir: str | None = None) -> None:
    """CLI entry and test entry: pass (spark, sf_dir) to run inside an
    existing session (tests/test_examples.py)."""
    if sf_dir is None:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    if spark is None:
        spark = get_spark("quickstart")
    eng = Engine(spark, sf_dir)

    print(f"{len(eng.names())} registered queries\n")

    print("— q_inner_join (the reference's richest query shape) —")
    eng.run("q_inner_join").show(5)

    print("— exact output schema (vs the reference's regex inference) —")
    print(eng.describe("q_inner_join").simpleString(), "\n")

    print("— parameterized point lookup —")
    eng.run("q_point_lookup", key=1).show()

    print("— an LLM-pipeline operator: MinHash near-dup candidates —")
    eng.run("q_dedup_minhash").show(5)

    print("— physical plan of the top-k query (first 15 lines) —")
    print("\n".join(eng.explain("q_topk").splitlines()[:15]), "\n")

    print("— the reference catalog over HTTP —")
    srv = GatewayServer(spark, sf_dir).start()
    try:
        with urllib.request.urlopen(srv.base_url + "/q/billing/lineitems/1") as r:
            envelope = json.loads(r.read())
        # the reference envelope: {"ok": true, "results": [...]}
        rows = envelope["results"]
        print(f"GET /q/billing/lineitems/1 -> ok={envelope['ok']}, "
              f"{len(rows)} rows  (the reference config.json URL, verbatim)")
        if rows:
            print(json.dumps(rows[0], default=str)[:120], "...")
    finally:
        srv.stop()

    eng.release_cache()


if __name__ == "__main__":
    main()
