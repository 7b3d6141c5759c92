"""End-to-end training-corpus curation job — the LLM-data-pipeline the
extension operators (SURVEY.md §2.9) exist to serve, composed:

    documents
      → quality gate   (expression-only Gopher/C4-style heuristics, X4)
      → PII redaction  (email/phone/IPv4 → typed placeholders, X4)
      → exact dedup    (normalized-content fingerprint, keep min id, X1)
      → near-dup dedup (MinHash+LSH pairs → transitive clusters →
                        one survivor per cluster, X2 + connected comps)
      → split assign   (deterministic content-hash train/test, x19 policy)
      → curated parquet + 128/96-stride chunk table + accounting report

Every stage is a DataFrame transform; the only actions are the writes and
the report counts. Stage order matters at scale: the cheap row-local
quality gate runs before any shuffle; PII redaction runs BEFORE
fingerprinting so documents differing only in contact strings collapse
into one exact-dup group; exact dedup (one shuffle on the fingerprint)
runs before the LSH machinery so near-dup only sees unique content; and
split assignment is a free projection.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_expr,
    pii_counts,
    pii_redact_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
)
from ..operators.dedup import minhash_neardup_pairs
from ..operators.graph import dedup_transitive
from ..sources import load_table


def curate_corpus(spark: SparkSession, sf_dir: str, out_dir: str, *,
                  min_tokens: int = 5, min_quality: float = 0.2,
                  neardup_threshold: float = 0.7) -> dict:
    """Run the curation pipeline; returns the per-stage report dict and
    writes ``{out_dir}/curated`` parquet."""
    docs = load_table(spark, sf_dir, "documents")
    n_input = docs.count()

    # 1. quality gate — row-local expressions, no shuffle
    gated = docs.filter(
        (token_count_expr("text") >= min_tokens)
        & (quality_score_expr("text") >= min_quality)
    )
    n_quality = gated.count()

    # 1b. PII redaction — row-local regex; BEFORE fingerprinting so docs
    # differing only in contact strings become exact dups. The redaction
    # count is one extra cheap aggregate over the gated rows.
    cnts = pii_counts("text")
    n_pii_hits = gated.agg(
        F.sum(cnts["n_email"] + cnts["n_phone"] + cnts["n_ip"])
    ).collect()[0][0] or 0
    redacted = gated.withColumn("text", pii_redact_expr("text"))

    # 2. exact dedup on the normalized-content fingerprint (min id wins).
    # survivors is persisted: its lineage (regex redaction + the
    # fingerprint groupBy-join) feeds FIVE actions — the count below,
    # the near-dup gram/signature build, the transitive-cluster join,
    # the post-dedup count, and the curated write; unpersisted, the
    # regex-heavy redaction re-executes for each (the dedup.py
    # never-recompute-a-sketch rule, measured 4.4s→1.2s there).
    with_fp = redacted.withColumn("fingerprint", fingerprint_expr("text"))
    survivors = (
        with_fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(with_fp, ["fingerprint", "doc_id"])
        .persist()
    )
    n_exact = survivors.count()

    # 3. near-dup dedup: LSH pairs → transitive clusters → min-id survivor
    pairs = minhash_neardup_pairs(
        survivors, "text", "doc_id", threshold=neardup_threshold
    ).select("a", "b")
    deduped = dedup_transitive(survivors, pairs, "doc_id").persist()
    n_neardup = deduped.count()

    # 4. deterministic split on the *content* fingerprint (already
    # computed for dedup) — survives doc_id reassignment on re-crawls,
    # unlike an id-hash (which churns membership exactly like rand())
    digit = F.substring(F.col("fingerprint"), 1, 1)
    curated = deduped.withColumn(
        "split", F.when(digit < F.lit("c"), F.lit("train")).otherwise(F.lit("test"))
    )
    curated.write.mode("overwrite").parquet(f"{out_dir}/curated")
    survivors.unpersist()
    deduped.unpersist()

    # read back with the schema just written: no footer-inference job
    out = spark.read.schema(curated.schema).parquet(f"{out_dir}/curated")

    # 5. chunk the curated corpus for training (128-token windows,
    # 96-token stride — the x30 operator shape) into its own table
    toks = out.filter(F.trim(F.col("text")) != "").select(
        "doc_id", "split", tokens_expr(F.lower(F.col("text"))).alias("toks")
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(96))
    chunks = (
        toks.select("doc_id", "split", "toks",
                    F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id", "split", "chunk_idx",
            F.array_join(F.slice("toks", F.col("start") + 1, 128), " ")
                .alias("chunk_text"),
        )
    )
    chunks.write.mode("overwrite").parquet(f"{out_dir}/chunks")

    report = {
        "n_input": n_input,
        "n_after_quality": n_quality,
        "n_pii_hits_redacted": int(n_pii_hits),
        "n_after_exact_dedup": n_exact,
        "n_after_neardup": n_neardup,
        "n_written": out.count(),
        "n_chunks": spark.read.schema(chunks.schema).parquet(f"{out_dir}/chunks").count(),
        "splits": {r["split"]: r["n"] for r in
                   out.groupBy("split").agg(F.count("*").alias("n")).collect()},
    }
    return report


def main(argv: list[str] | None = None) -> int:
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(description="curate a training corpus")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--min-quality", type=float, default=0.2)
    ap.add_argument("--neardup-threshold", type=float, default=0.7)
    args = ap.parse_args(argv)
    spark = get_spark(app_name="corpus-curation")
    report = curate_corpus(
        spark, args.sf_dir, args.out_dir,
        min_tokens=args.min_tokens, min_quality=args.min_quality,
        neardup_threshold=args.neardup_threshold,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
