"""Correctness checks on one run's committed output. Each returns named
failure counts; their sum goes into the result's ``failed`` count."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_text_extractor_spark.kernels.dispatch import (
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.functions.text_funcs import normalized_text_col
from universal_text_extractor_spark.operators.dedup import md5_long, minhash_lsh_pairs
from universal_text_extractor_spark.plans.corpus import frame_documents, quality_filter

STAGE_ORDER = ["framed", "quality", "exact", "corpus"]
NEAR_DUP_THRESHOLD = 0.7  # build_training_corpus's default


def check_extraction(
    spark: SparkSession, out_dir: str, input_rows: int, sample: list[dict]
) -> dict[str, int]:
    """``run_extraction`` output against its input.

    - every input row was written exactly once;
    - the lineage ``doc_count`` values add up to the input rows;
    - on ``sample`` (input rows with ``url`` and ``html``), the written
      ``content_type`` and ``text`` equal what the kernels give in this
      process."""
    extracted = spark.read.parquet(f"{out_dir}/extracted")
    written, urls = extracted.agg(F.count("*"), F.countDistinct("url")).first()
    doc_count = spark.read.parquet(f"{out_dir}/metrics").agg(F.sum("doc_count")).first()[0]
    got = {
        r["url"]: (r["content_type"], r["text"])
        for r in extracted.filter(F.col("url").isin([s["url"] for s in sample]))
        .select("url", "content_type", "text")
        .collect()
    }
    mismatched = 0
    for s in sample:
        ct = detect_content_type(s["url"], s["html"])
        want = (ct, extract_payload(s["url"], s["html"], ct)[0])
        mismatched += got.get(s["url"]) != want
    return {
        "lost_rows": abs(input_rows - urls) + (written - urls),
        "lineage_mismatch": abs(input_rows - (doc_count or 0)),
        "text_mismatch": mismatched,
    }


def check_corpus(spark: SparkSession, out_dir: str, extracted: DataFrame) -> dict[str, int]:
    """Invariants any correct verified-pair ``build_training_corpus``
    output satisfies.

    - ``doc_id`` is unique among the survivors;
    - the stages only shrink (``stage_metrics`` rows, ``stats``), and every
      survivor is a framed document of the input with its url and text
      byte-identical (corpus within framed) that passes the quality filter
      (corpus within quality);
    - no two survivors share a normalized-text hash (corpus within exact);
    - ``minhash_lsh_pairs`` finds no near-duplicate pair among them."""
    corpus = spark.read.parquet(f"{out_dir}/corpus")
    n, ids, hashes = corpus.agg(
        F.count("*"),
        F.countDistinct("doc_id"),
        F.countDistinct(md5_long(normalized_text_col(F.col("text")))),
    ).first()
    rows = {
        r["stage"]: r["rows"]
        for r in spark.read.parquet(f"{out_dir}/stage_metrics").collect()
    }
    chain = [rows.get(s, -1) for s in STAGE_ORDER]
    stats = spark.read.parquet(f"{out_dir}/stats").first().asDict()
    shrinking = (
        all(a >= b >= 0 for a, b in zip(chain, chain[1:]))
        and stats["near_dup_unique"] == n == chain[-1]
    )
    framed = frame_documents(extracted).select("doc_id", "url", "text")
    outside = corpus.join(framed, ["doc_id", "url", "text"], "left_anti").count()
    return {
        "duplicate_ids": n - ids,
        "stage_counts": int(not shrinking),
        "not_in_framed": outside,
        "fails_quality": n - quality_filter(corpus).count(),
        "shared_norm_hash": n - hashes,
        "near_dup_left": minhash_lsh_pairs(corpus, threshold=NEAR_DUP_THRESHOLD).count(),
    }
