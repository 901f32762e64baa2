"""Checkpoint/resume evidence: time the checkpointed pipeline cold,
then again with the same run_id, params and inputs — completed stages
must be skipped via the lineage manifest (params-hash match, the hash
covering the inputs' content identity), making the resumed run
read-back-only. Writes BENCH/RESUME.md.

Usage: python tools/resume_bench.py [sf_dir] [replicate]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )
    from information_extraction_spark.plans.pipeline import extract_triples
    from information_extraction_spark.session import get_spark
    from information_extraction_spark.sources.from_documents import (
        kb_from_documents,
        transcripts_from_documents,
    )

    spark = get_spark(app_name="ie-resume-bench")
    base = tempfile.mkdtemp(prefix="ie_resume_bench_")
    transcripts = transcripts_from_documents(spark, sf_dir, replicate=replicate)
    kb, schemas = kb_from_documents(spark, sf_dir)
    params = {"sf_dir": sf_dir, "replicate": replicate, "v": 1}

    # Warm the JVM + Python workers so both timed runs are comparable.
    extract_triples(spark, transcripts, kb, schemas).count()

    t0 = time.time()
    ck1 = CheckpointManager(spark, base, run_id="r1", params=params)
    n_cold = extract_triples(
        spark, transcripts, kb, schemas, checkpointer=ck1
    ).count()
    cold_s = time.time() - t0

    t0 = time.time()
    ck2 = CheckpointManager(spark, base, run_id="r1", params=params)
    n_resume = extract_triples(
        spark, transcripts, kb, schemas, checkpointer=ck2
    ).count()
    resume_s = time.time() - t0

    md = f"""# Checkpoint/resume evidence — tools/resume_bench.py

Checkpointed pipeline (the fused kernel's `units` and the `triples`
stage each materialized to Parquet with lineage-manifest rows) over
`{sf_dir}` (replicate={replicate}):

| run | seconds | triples |
|---|---|---|
| cold (both stages computed + written) | {cold_s:.3f} | {n_cold} |
| resumed (same run_id, params and inputs) | {resume_s:.3f} | {n_resume} |

Speedup {cold_s / resume_s:.1f}x: the resumed run skips every
completed stage via the manifest's params-hash match and only reads
the final `triples` checkpoint back. The hash covers the caller's
params, the content identity of the transcripts, KB and schemas
inputs, the threshold, fallback_k, the entity length filter and the
kernel version, so changing any of them recomputes the stages (tested
in tests/test_checkpoint.py). Identical triple counts:
{n_cold == n_resume}.
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    with open(os.path.join(repo, "BENCH", "RESUME.md"), "w") as f:
        f.write(md)
    print(md)
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
