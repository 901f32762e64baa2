"""spark-submit entry point for the full KG-construction job
(north rule: "run via spark-submit --py-files on a multi-executor
cluster").

  python -c "import zipfile,os;z=zipfile.ZipFile('ie_spark.zip','w');\
[z.write(os.path.join(r,f),os.path.join(r,f)) for r,d,fs in\
os.walk('information_extraction_spark') if '__pycache__' not in r for f in fs]"
  spark-submit --py-files ie_spark.zip tools/run_pipeline.py \\
      --transcripts /data/transcripts --kb /data/kb \\
      --schemas /data/schemas --out /data/graph \\
      --checkpoint-dir /data/ckpt --run-id nightly-01

A re-run with the same --checkpoint-dir and --run-id over unchanged
inputs resumes from the staged triples.

Local smoke (fixtures are generated when --transcripts is omitted, into
a temp dir removed when the run ends):

  python tools/run_pipeline.py --out /tmp/graph

A smoke run cannot resume: its inputs are new files every time.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--transcripts", help="parquet path (generated fixtures if omitted)")
    p.add_argument("--kb", help="knowledge-base parquet path")
    p.add_argument("--schemas", help="relation-schema parquet path")
    p.add_argument("--alias-dict", help="alias dict parquet for canonicalization")
    p.add_argument("--out", required=True, help="graph table output path")
    p.add_argument("--spo-json", help="optional spo_list JSON output path")
    p.add_argument("--checkpoint-dir", help="stage checkpoint base dir")
    p.add_argument("--run-id", default="run-001")
    p.add_argument("--kernel-partitions", type=int, default=None)
    p.add_argument("--predicate-buckets", type=int, default=16)
    p.add_argument("--master", default=None)
    args = p.parse_args()
    if args.transcripts:
        return _run(
            args, args.transcripts, args.kb, args.schemas, args.alias_dict
        )
    from information_extraction_spark.fixtures import write_fixtures

    fix_dir = tempfile.mkdtemp(prefix="ie_fixtures_")
    try:
        write_fixtures(fix_dir, n_convs=50, with_golden=False)
        return _run(
            args,
            f"{fix_dir}/transcripts.parquet",
            f"{fix_dir}/kb_clean.parquet",
            f"{fix_dir}/schemas.parquet",
            f"{fix_dir}/alias_dict.parquet",
        )
    finally:
        shutil.rmtree(fix_dir, ignore_errors=True)


def _run(args, transcripts_path, kb_path, schemas_path, alias_path) -> int:
    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )
    from information_extraction_spark.operators.extract import (
        collect_spo_lists,
    )
    from information_extraction_spark.operators.linking import (
        canonicalize_triples,
    )
    from information_extraction_spark.plans.pipeline import extract_triples
    from information_extraction_spark.session import get_spark
    from information_extraction_spark.sources import tables

    spark = get_spark(app_name="ie-spark-pipeline", master=args.master)
    transcripts = tables.read_transcripts(spark, transcripts_path)
    kb = tables.read_kb(spark, kb_path)
    schemas = tables.read_schemas(spark, schemas_path)
    alias_df = (
        tables.read_alias_dict(spark, alias_path) if alias_path else None
    )

    ckpt = None
    if args.checkpoint_dir:
        ckpt = CheckpointManager(
            spark,
            args.checkpoint_dir,
            run_id=args.run_id,
            params={
                "kernel_partitions": args.kernel_partitions,
                "buckets": args.predicate_buckets,
            },
        )

    t0 = time.time()
    triples = extract_triples(
        spark,
        transcripts,
        kb,
        schemas,
        checkpointer=ckpt,
        kernel_partitions=args.kernel_partitions,
    )
    if alias_df is not None:
        triples = canonicalize_triples(triples, alias_df)
    tables.write_graph(
        triples, args.out, predicate_buckets=args.predicate_buckets
    )
    n = spark.read.parquet(args.out).count()
    if args.spo_json:
        tables.write_spo_json(collect_spo_lists(triples), args.spo_json)
    dt = time.time() - t0
    print(
        f"wrote {n} triples to {args.out} in {dt:.1f}s "
        f"({n / dt:.0f} triples/sec)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
