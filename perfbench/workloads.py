"""The benchmark's workloads: what each one sets up, runs, checks and
reports per layer. A workload object is built per run from its generated
input (``gen.ensure_pages``)."""

from __future__ import annotations

import pathlib
import random
import statistics
import time

from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import TimingStorage, corpus_stage_spans
from universal_text_extractor_spark.operators.dedup import lsh_bands, minhash_lsh_pairs
from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.plans.corpus import (
    build_training_corpus,
    exact_unique,
    frame_documents,
    quality_filter,
)
from universal_text_extractor_spark.plans.pipeline import run_extraction
from universal_text_extractor_spark.plans.storage import DEFAULT_STORAGE

CORES = 4
SAMPLE_URLS = 48
# run_extraction commits one bucket at a time, and each commit costs a fixed
# ~1.1 s of Spark jobs on local[4] beyond its extraction. At the launcher's
# default of 16 the commits alone would fill a run, so the benchmark uses 4.
N_BUCKETS = 4

END_TO_END_UNITS = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "mb_per_s": "MB/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "kernels.core_s": "s",
    "kernels.core_s.html": "s",
    "kernels.core_s.pdf": "s",
    "kernels.core_s.office": "s",
    "kernels.core_s.other": "s",
    "kernels.doc_us.p50": "us",
    "kernels.doc_us.p999": "us",
    "kernels.doc_us.samples": "count",
    "kernels.docs_failed": "count",
    "kernels.share": "ratio",
    "extract.residual_core_s": "s",
    "extract.scaling_eff": "ratio",
    "pipeline.stage_s": "s",
    "pipeline.extract_write_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.buckets": "count",
    "pipeline.partition_skew": "ratio",
    "corpus.framed_s": "s",
    "corpus.quality_s": "s",
    "corpus.exact_s": "s",
    "corpus.shingles_s": "s",
    "corpus.neardup_s": "s",
    "corpus.stage_share": "ratio",
    "corpus.rows.framed": "count",
    "corpus.rows.quality": "count",
    "corpus.rows.exact": "count",
    "corpus.rows.corpus": "count",
    "dedup.verified_pairs": "count",
    "dedup.hot_bucket_docs": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.task_s.max_over_median": "ratio",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.attributed_share": "ratio",
    "trace.unattributed_s": "s",
}


# corpus stage_metrics stage -> per-layer metric (``corpus`` is the final,
# near-dup stage). The bucket-min mode's ``signatures`` stage is not run.
STAGE_METRICS = {
    "framed": "framed", "quality": "quality", "exact": "exact",
    "shingles": "shingles", "corpus": "neardup",
}


def kernel_metrics(extracted) -> dict[str, float]:
    """Kernel core-seconds and per-doc latency from the program's own
    ``extract_us`` column."""
    family = (
        F.when(F.col("content_type").isin("html", "pdf"), F.col("content_type"))
        .when(
            F.col("content_type").isin(
                "docx", "pptx", "xlsx", "odt", "odp", "epub", "doc", "ppt", "xls", "msg", "zip"
            ),
            "office",
        )
        .otherwise("other")
    )
    rows = extracted.select(family.alias("family"), "extract_us", "success").collect()
    us = sorted(r["extract_us"] for r in rows)
    core = dict.fromkeys(("html", "pdf", "office", "other"), 0.0)
    for r in rows:
        core[r["family"]] += r["extract_us"] / 1e6
    core_s = sum(core.values())
    return {
        "kernels.core_s": core_s,
        **{f"kernels.core_s.{f}": v for f, v in core.items()},
        "kernels.doc_us.p50": float(statistics.median(us)),
        "kernels.doc_us.p999": float(us[min(len(us) - 1, int(0.999 * len(us)))]),
        "kernels.doc_us.samples": float(len(us)),
        "kernels.docs_failed": float(sum(not r["success"] for r in rows)),
    }


def _skew(latencies: list[float]) -> float:
    return max(latencies) / max(statistics.median(latencies), 1e-9)


class ExtractCrawl:
    """``run_extraction`` over the generated pages, into a fresh out_dir."""

    def __init__(self, meta: dict, seed: int, work: pathlib.Path):
        self.meta = meta
        self.seed = seed
        self.work = work
        self.docs = meta["rows"]
        self.payload_mb = meta["payload_bytes"] / 1e6

    def prepare(self, spark) -> None:
        pass

    def register(self, spark) -> None:
        self.pages = spark.read.parquet(self.meta["path"])
        self.pages.count()

    def warm_up(self, spark) -> None:
        extract_pages_fused(self.pages.limit(64), num_partitions=CORES).agg(
            F.sum(F.length("text"))
        ).collect()

    def job(self, spark, out_dir: str, tracer=None):
        storage = DEFAULT_STORAGE if tracer is None else TimingStorage(DEFAULT_STORAGE, tracer)
        return run_extraction(spark, self.pages, out_dir, n_buckets=N_BUCKETS, storage=storage)

    def job_failures(self, result) -> int:
        return abs(result.rows_written - self.docs)

    def check(self, spark, out_dir: str) -> dict[str, int]:
        rng = random.Random(f"perfbench:sample:{self.seed}")
        picks = sorted(rng.sample(range(self.docs), min(SAMPLE_URLS, self.docs)))
        blocks = {
            b: gen.block_rows("extract_crawl", self.seed, b) for b in {i // gen.BLOCK for i in picks}
        }
        sample = [blocks[i // gen.BLOCK][i % gen.BLOCK] for i in picks]
        return checks.check_extraction(spark, out_dir, self.docs, sample)

    def layers(self, spark, out_dir: str, tracer) -> dict[str, float]:
        extract_s = tracer.duration("storage.write_bucket")
        kernels = kernel_metrics(spark.read.parquet(f"{out_dir}/extracted"))
        lat = [r[0] for r in spark.read.parquet(f"{out_dir}/metrics").select("extraction_latency").collect()]
        return {
            **kernels,
            "kernels.share": kernels["kernels.core_s"] / (CORES * extract_s),
            "extract.residual_core_s": CORES * extract_s - kernels["kernels.core_s"],
            "pipeline.stage_s": sum(
                tracer.duration(f"storage.{n}")
                for n in ("read_manifest_buckets", "stage_is_committed", "stage_pages", "read_stage")
            ),
            "pipeline.extract_write_s": extract_s,
            "pipeline.commit_s": sum(
                tracer.duration(n)
                for n in ("storage.read_bucket", "pipeline.lineage_collect", "storage.append_metrics",
                          "storage.append_manifest", "storage.drop_stage")
            ),
            "pipeline.buckets": float(sum(s["name"] == "pipeline.bucket" for s in tracer.spans)),
            "pipeline.partition_skew": _skew(lat),
        }

    def attributed_s(self, tracer) -> float:
        return sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"].startswith("storage.") or s["name"] == "pipeline.lineage_collect"
        )

    def scaling_eff(self, start_1core, wall_4core: float) -> float:
        """docs/s on 4 cores (the timed median) over 4 x docs/s on 1 core."""
        spark = start_1core()
        self.register(spark)
        t0 = time.perf_counter()
        self.job(spark, str(self.work / "out-1core"))
        return (time.perf_counter() - t0) / (CORES * wall_4core)


class CorpusVerified:
    """``build_training_corpus(extracted=…)``, verified-pair near-dup purge,
    over pages the engine extracts once, at set-up. Its timed jobs run no
    kernels and no extraction pipeline, so those layers' metrics read 0."""

    def __init__(self, meta: dict, seed: int, work: pathlib.Path):
        self.meta = meta
        self.seed = seed
        self.work = work
        self.docs = meta["rows"]
        self.extracted_path = str(work / "extracted")
        self.kept_exact = str(work / "kept-exact")
        self.first_stats = None

    def prepare(self, spark) -> None:
        extract_pages_fused(spark.read.parquet(self.meta["path"])).write.mode(
            "overwrite"
        ).parquet(self.extracted_path)

    def register(self, spark) -> None:
        self.extracted = spark.read.parquet(self.extracted_path)
        text_bytes = self.extracted.filter("success").agg(F.sum(F.octet_length("text"))).first()[0]
        self.payload_mb = (text_bytes or 0) / 1e6

    def warm_up(self, spark) -> None:
        exact_unique(quality_filter(frame_documents(self.extracted.limit(64)))).count()

    def job(self, spark, out_dir: str, tracer=None):
        if tracer is None:
            return build_training_corpus(spark, None, out_dir, extracted=self.extracted)
        with corpus_stage_spans(tracer, {"exact": self.kept_exact}):
            return build_training_corpus(spark, None, out_dir, extracted=self.extracted)

    def job_failures(self, result) -> int:
        """Every job must report the first job's stage counts."""
        if self.first_stats is None:
            self.first_stats = result
        return int(result != self.first_stats)

    def check(self, spark, out_dir: str) -> dict[str, int]:
        return checks.check_corpus(spark, out_dir, self.extracted)

    def layers(self, spark, out_dir: str, tracer) -> dict[str, float]:
        stages = {r["stage"]: r for r in spark.read.parquet(f"{out_dir}/stage_metrics").collect()}
        exact = spark.read.parquet(self.kept_exact)
        return {
            **{f"corpus.{name}_s": stages[stage]["wall_sec"] for stage, name in STAGE_METRICS.items()},
            "corpus.stage_share": sum(stages[s]["wall_sec"] for s in STAGE_METRICS)
            / tracer.duration("job"),
            **{f"corpus.rows.{s}": float(stages[s]["rows"]) for s in checks.STAGE_ORDER},
            "dedup.hot_bucket_docs": float(
                lsh_bands(exact).groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
            ),
            "dedup.verified_pairs": float(
                minhash_lsh_pairs(exact, threshold=checks.NEAR_DUP_THRESHOLD).count()
            ),
        }

    def attributed_s(self, tracer) -> float:
        return sum(s["end"] - s["start"] for s in tracer.spans if s["name"].startswith("corpus."))

    def scaling_eff(self, start_1core, wall_4core: float) -> float:
        return 0.0  # its timed jobs extract nothing


WORKLOADS = {
    "extract_crawl": (ExtractCrawl, 2000),
    "corpus_verified": (CorpusVerified, 480),
}
