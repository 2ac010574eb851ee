"""Dump .explain('formatted') for the bench-timed queries into plans/r06/.

Usage: python scripts/dump_plans.py <suffix> [query,query,...]
Writes plans/r06/<query>_<suffix>.txt for each bench doc query, plus the
pipeline's report/clustered plans (the two frames bench.py acts on).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = REPO / "plans" / "r06"

BENCH_QUERIES = [
    "exact_dup_groups",
    "dedup_report",
    "minhash_lsh_docs",
    "ngram_jaccard",
    "containment_docs",
    "simhash_docs",
    "doc_quality",
    "embedding_topk",
    "token_count",
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    OUT.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as em
    from file_deduplicator_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="dump_plans", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    qs = em.queries()
    for name in BENCH_QUERIES:
        if only and name not in only:
            continue
        df = qs[name](spark, SF_DIR)
        (OUT / f"{name}_{suffix}.txt").write_text(explain_str(df))
        print("wrote", name, flush=True)

    if only is None or "clips_dedup_pipeline" in (only or []):
        from file_deduplicator_spark.config import DedupConfig
        from file_deduplicator_spark.plans.pipeline import (
            dedup_pipeline,
            release_pipeline,
        )

        clips = spark.read.parquet(
            str(REPO / ".cache" / "clips_n200000_s42" / "clips.parquet")
        )
        res = dedup_pipeline(clips, DedupConfig())
        (OUT / f"clips_dedup_pipeline_report_{suffix}.txt").write_text(
            explain_str(res["report"])
        )
        (OUT / f"clips_dedup_pipeline_clustered_{suffix}.txt").write_text(
            explain_str(res["clustered"])
        )
        release_pipeline(res)
        print("wrote clips_dedup_pipeline", flush=True)


if __name__ == "__main__":
    main()
