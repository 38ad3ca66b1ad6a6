"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import pathlib
import sys

import pyarrow.parquet as pq
import pytest

ROOT = pathlib.Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen  # noqa: E402
from perfbench.trace import Tracer, TimingStorage, corpus_stage_spans  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _shingles(html: bytes) -> set[tuple[str, ...]]:
    words = html.decode().split()
    return set(zip(words, words[1:], words[2:]))


def test_generator_is_deterministic(tmp_path):
    one = gen.ensure_pages(str(tmp_path / "a"), "corpus_verified", 5, 3 * gen.BLOCK, workers=1)
    two = gen.ensure_pages(str(tmp_path / "b"), "corpus_verified", 5, 3 * gen.BLOCK, workers=2)
    assert one["rows"] == two["rows"] == 3 * gen.BLOCK
    assert one["payload_bytes"] == two["payload_bytes"]
    assert pq.read_table(one["path"]).equals(pq.read_table(two["path"]))
    again = gen.ensure_pages(str(tmp_path / "c"), "corpus_verified", 5, 3 * gen.BLOCK, workers=1)
    names = sorted(os.listdir(one["path"]))
    for name in names:
        if name.endswith(".parquet"):
            assert (pathlib.Path(one["path"]) / name).read_bytes() == (
                pathlib.Path(again["path"]) / name
            ).read_bytes()
    other = gen.block_rows("corpus_verified", 6, 0)
    assert [r["html"] for r in other] != [r["html"] for r in gen.block_rows("corpus_verified", 5, 0)]


def test_natural_pages_are_pages_gen_rows_as_drawn():
    from universal_text_extractor_spark.sources import pages_gen

    rows = gen.block_rows("extract_crawl", 7, 2)
    for i, row in enumerate(rows, start=2 * gen.BLOCK):
        page = pages_gen.make_page(i, 7)
        assert row == page or len(page["html"]) > gen.MAX_PAGE_BYTES >= len(row["html"])


def test_revisit_clusters_are_planted():
    for b in range(5):
        rows = gen.block_rows("corpus_verified", 9, b)
        natural = rows[: gen.BLOCK - gen.REVISIT_COPIES - gen.TEMPLATE_ROWS]
        copies = rows[len(natural) : len(natural) + gen.REVISIT_COPIES]
        by_url = {r["url"]: r for r in natural}
        sizes: dict[str, int] = {}
        for c in copies:
            src = by_url[c["url"]]
            assert "/html_ok/" in c["url"] and c["html"] != src["html"]
            a, b_ = _shingles(src["html"]), _shingles(c["html"])
            assert len(a & b_) / len(a | b_) > 0.7
            sizes[c["url"]] = sizes.get(c["url"], 1) + 1
        assert sum(s - 1 for s in sizes.values()) == gen.REVISIT_COPIES
        assert all(2 <= s <= 5 for s in sizes.values())


def test_hot_template_shares_one_lsh_bucket(spark):
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.operators.dedup import lsh_bands

    rows = [r for b in range(5) for r in gen.block_rows("corpus_verified", 9, b)]
    templated = [r for r in rows if gen.TEMPLATE_HOST in r["url"]]
    assert len(templated) == 5 * gen.TEMPLATE_ROWS
    docs = spark.createDataFrame(
        [(i, r["html"].decode()) for i, r in enumerate(templated)], "doc_id long, text string"
    )
    hottest = lsh_bands(docs).groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    assert hottest >= len(templated) // 2


def _extract(spark, tmp_path, storage=None, name="out"):
    from universal_text_extractor_spark.plans.pipeline import run_extraction
    from universal_text_extractor_spark.plans.storage import DEFAULT_STORAGE

    meta = gen.ensure_pages(str(tmp_path / "cache"), "extract_crawl", 3, gen.BLOCK, workers=1)
    out = str(tmp_path / name)
    run = run_extraction(
        spark, spark.read.parquet(meta["path"]), out, n_buckets=2,
        storage=storage or DEFAULT_STORAGE,
    )
    return meta, out, run


def test_timing_storage_is_transparent(spark, tmp_path):
    from universal_text_extractor_spark.plans.storage import DEFAULT_STORAGE

    _, plain, _ = _extract(spark, tmp_path, name="plain")
    tracer = Tracer("t")
    with tracer.span("job"):
        _, timed, run = _extract(spark, tmp_path, TimingStorage(DEFAULT_STORAGE, tracer), "timed")
    cols = ["url", "content_type", "text", "success", "error", "bucket"]

    def rows(path):
        return sorted(spark.read.parquet(f"{path}/extracted").select(*cols).collect())

    assert rows(plain) == rows(timed)
    assert run.rows_written == gen.BLOCK
    names = [s["name"] for s in tracer.spans]
    assert names.count("pipeline.bucket") == 2 and names.count("pipeline.lineage_collect") == 2
    assert all(s["end"] >= s["start"] for s in tracer.spans)


def test_corrupted_extraction_row_is_counted(spark, tmp_path):
    meta, out, _ = _extract(spark, tmp_path)
    sample = gen.block_rows("extract_crawl", 3, 0)
    assert sum(checks.check_extraction(spark, out, meta["rows"], sample).values()) == 0

    from pyspark.sql import functions as F

    bucket = next(p for p in sorted(os.listdir(f"{out}/extracted")) if p.startswith("bucket="))
    path = f"{out}/extracted/{bucket}"
    part = spark.read.parquet(path).cache()
    victim = part.first()["url"]
    bad = part.withColumn(
        "text", F.when(F.col("url") == victim, F.lit("corrupted")).otherwise(F.col("text"))
    )
    bad.write.mode("overwrite").parquet(path + ".tmp")
    part.unpersist()
    os.replace(path, f"{out}/{bucket}.old")  # outside extracted/: no stray partition
    os.replace(path + ".tmp", path)
    failures = checks.check_extraction(spark, out, meta["rows"], sample)
    assert failures == {"lost_rows": 0, "lineage_mismatch": 0, "text_mismatch": 1}


def test_corrupted_corpus_row_is_counted(spark, tmp_path):
    from universal_text_extractor_spark.operators.extract import extract_pages_fused
    from universal_text_extractor_spark.plans.corpus import build_training_corpus

    meta = gen.ensure_pages(str(tmp_path / "cache"), "corpus_verified", 4, 2 * gen.BLOCK, workers=1)
    extracted = extract_pages_fused(spark.read.parquet(meta["path"])).cache()
    out = str(tmp_path / "corpus")
    tracer = Tracer("t")
    with tracer.span("job"), corpus_stage_spans(tracer):
        build_training_corpus(spark, None, out, extracted=extracted)
    assert {s["name"] for s in tracer.spans} >= {
        "corpus.framed", "corpus.quality", "corpus.exact", "corpus.shingles",
        "corpus.corpus", "corpus.publish",
    }
    assert sum(checks.check_corpus(spark, out, extracted).values()) == 0

    corpus = spark.read.parquet(f"{out}/corpus")
    corpus.union(corpus.limit(1)).write.parquet(f"{out}/corpus.bad")
    os.replace(f"{out}/corpus", f"{out}/corpus.old")
    os.replace(f"{out}/corpus.bad", f"{out}/corpus")
    failures = checks.check_corpus(spark, out, extracted)
    assert failures["duplicate_ids"] == 1 and failures["stage_counts"] == 1


def test_benchmark_json_lists_what_the_run_prints():
    import json

    from perfbench.workloads import END_TO_END_UNITS, PER_LAYER_UNITS, WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
