"""Capture .explain("formatted") for a list of queries into
plans/<round>/<query>_<tag>.txt — the optimization round's before/after
plan evidence (guide §1: measure first; §7.2: read the plan).

Usage: python tools/capture_plans.py <tag> [query ...]
Defaults to the 18 headline queries + the curation flagship when no
names are given. Tag is e.g. "before" or "after". The round directory
comes from $PLANS_ROUND (default r20).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.cache import unpersist_all  # noqa: E402
from datapipeline_spike_spark.plans import REGISTRY  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402

DEFAULT = [
    "vibration_features", "record_envelope_flat", "downsample_1h",
    "pricing_summary", "revenue_by_segment", "order_size_histogram",
    "top_orders_per_customer", "purchase_asof_signup", "sessionization",
    "dedup_latest_state", "doc_fingerprint_dedup", "minhash_lsh_candidates",
    "simhash_signatures", "dedup_corpus_assignment", "embedding_topk_cosine",
    "ann_lsh_bucket", "spectral_energy", "text_quality_profile",
    "curation_stage_profile",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r20"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("capture-plans")
    for name in names:
        try:
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)
        unpersist_all(spark)
    spark.stop()


if __name__ == "__main__":
    main()
