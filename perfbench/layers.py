"""Per-layer probes for the traced run.

Each probe times direct calls into one layer's public functions, from the
benchmark's side of the call. Layers are named after the program's
modules. ``LAYER_MAP`` records, for each per-layer metric, the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

import collections
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd

from engine import file_set, median, reset_dir
from workloads import FORMATS, KEEP_COLS, N_BUCKETS, PAGE_SCALE, write_split

KERNEL_BATCH = 4096  # pages per kernel call, the mapInPandas batch size
KERNEL_REPS = 2
CODEC_ASSETS_PER_FORMAT = 20
CODEC_PASSES = 3

# per-layer metric prefix -> (end-to-end metric, workloads it should move)
LAYER_MAP = {
    "session.": ("setup_s", "all"),
    "extraction.kernel.": ("rows_per_s, cpu_s_per_krow", "extract_full"),
    "arrow.": ("rows_per_s", "extract_full, asset_ingest"),
    "sources.lineage.": ("run_s, out_bytes_per_in_byte", "extract_full"),
    "sources.curation.": ("run_s", "curate"),
    "operators.": ("run_s", "curate"),
    "multimodal.": ("rows_per_s", "asset_ingest"),
    "codecs.": ("rows_per_s", "asset_ingest"),
    "engine.": ("run_s, peak_rss_mb", "curate and extract_full (many small tasks); peak_rss_mb everywhere"),
    "host.": ("none (context only)", "all"),
}


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def kernel_probe(first_id: int) -> tuple[dict, pd.DataFrame]:
    """Single-threaded kernel split on one 4096-page batch (page_scale=8),
    median over ``KERNEL_REPS``; ``assemble`` is extract_batch minus the
    rest. Also returns the generated pages."""
    import pyarrow as pa

    from finetoo_sp_spark.datagen import gen_pages_pandas
    from finetoo_sp_spark.extraction.kernel import (
        classify_arrays,
        decode_html,
        extract_batch,
        tokenize_arrays,
    )

    pdf = gen_pages_pandas(np.arange(first_id, first_id + KERNEL_BATCH), page_scale=PAGE_SCALE)
    urls, html = pdf["url"], pdf["html"]
    cpus = pa.cpu_count()
    pa.set_cpu_count(1)
    try:
        t = collections.defaultdict(list)
        for _ in range(KERNEL_REPS):
            dt, text = _timed(decode_html, html)
            t["decode"].append(dt)
            dt, tf = _timed(tokenize_arrays, text)
            t["tokenize"].append(dt)
            dt, bf = _timed(classify_arrays, tf)
            t["classify"].append(dt)
            dt, _ = _timed(extract_batch, urls, html)
            t["total"].append(dt)
    finally:
        pa.set_cpu_count(cpus)
    per_k = 1000.0 * 1000.0 / KERNEL_BATCH  # seconds per batch -> ms per kpage
    m = {k: median(v) * per_k for k, v in t.items()}
    return {
        "extraction.kernel.decode_ms_per_kpage": m["decode"],
        "extraction.kernel.tokenize_ms_per_kpage": m["tokenize"],
        "extraction.kernel.classify_ms_per_kpage": m["classify"],
        "extraction.kernel.assemble_ms_per_kpage": m["total"] - m["decode"] - m["tokenize"] - m["classify"],
        "extraction.kernel.tokens_per_page": len(tf.tok) / KERNEL_BATCH,
        "extraction.kernel.blocks_per_page": len(bf.doc) / KERNEL_BATCH,
        "extraction.kernel.content_block_frac": float(np.mean(bf.is_content)),
    }, pdf


def codecs_probe(first_id: int) -> dict:
    """Direct ``multimodal.decode_image`` per format: microseconds per
    asset (decode or the raise of a skip), decoded share, skips by type."""
    from finetoo_sp_spark.datagen import gen_mixed_image_pandas
    from finetoo_sp_spark.multimodal import decode_image

    assets = gen_mixed_image_pandas(np.arange(first_id, first_id + 7 * CODEC_ASSETS_PER_FORMAT))
    us = collections.defaultdict(list)
    skips = collections.Counter()
    decoded = 0
    for _ in range(CODEC_PASSES):
        for i, payload in zip(assets["asset_id"], assets["payload"]):
            t0 = time.perf_counter()
            try:
                decode_image(payload)
                decoded += 1
            except (ValueError, NotImplementedError) as e:
                skips[type(e).__name__] += 1
            us[FORMATS[int(i) % 7]].append((time.perf_counter() - t0) * 1e6)
    out = {f"codecs.decode_us_per_asset.{f}": median(v) for f, v in us.items()}
    out["codecs.decoded_frac"] = decoded / (CODEC_PASSES * len(assets))
    for name in ("ValueError", "TiffError"):
        out[f"codecs.skips.{name}"] = skips.pop(name, 0) / CODEC_PASSES
    out["codecs.skips.other"] = sum(skips.values()) / CODEC_PASSES
    return out


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def write_with_manifests_probe(spark, extraction_out: Path, out: Path) -> float:
    """``write_with_manifests`` alone, on a cached, already extracted frame:
    the checked data of a finished extraction, read back (it restamps the
    ``row_hash`` and ``text_chars`` columns the data already carries)."""
    from finetoo_sp_spark.sources.lineage import write_with_manifests

    extracted = spark.read.parquet(str(extraction_out / "data")).cache()
    extracted.count()
    reset_dir(out)
    _group(spark, "probe-wwm")
    dt, _ = _timed(write_with_manifests, extracted, str(out), None, N_BUCKETS)
    extracted.unpersist()
    return dt


def lineage_metrics(info: dict, out: Path) -> dict:
    """Phases returned by a fresh ``run_resumable_extraction`` and what it
    left under ``out``."""
    files = file_set(out)
    ph = info["phases"]
    return {
        "sources.lineage.plan_and_count_s": ph["plan_and_count"],
        "sources.lineage.extract_write_manifest_s": ph["extract_write_manifest"],
        "sources.lineage.final_audit_s": ph["final_audit"],
        "sources.lineage.files_written": sum(1 for p in files if p.endswith(".parquet")),
        "sources.lineage.data_bytes": sum(sz for p, sz in files.items() if p.startswith("data/")),
        "sources.lineage.manifest_bytes": sum(
            sz for p, sz in files.items() if p.startswith("_manifests/")
        ),
    }


def write_probe_pages(spark, pdf: pd.DataFrame, pages_dir: Path) -> pd.DataFrame:
    """Write the kernel probe's pages as a parquet corpus; return each url's
    expected text and bucket."""
    from pyspark.sql import functions as F

    write_split(pdf[["url", "warc_ts", "html", "lang"]], pages_dir, 2)
    buckets = (
        spark.read.parquet(str(pages_dir))
        .select("url", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int").alias("bucket"))
        .toPandas()
    )
    return pdf[["url", "expected_text"]].merge(buckets, on="url")


def lineage_probe(spark, pages_dir: Path, out: Path) -> dict:
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    reset_dir(out)
    _group(spark, "probe-lineage")
    return run_resumable_extraction(
        spark.read.parquet(str(pages_dir)), str(out), keep_cols=KEEP_COLS
    )


def _bucket_of(path: str) -> int:
    return int(path.split("bucket=")[1].split("/")[0])


def resume_probe(
    spark, pages_dir: Path, out: Path, buckets: pd.Series, seed: int
) -> tuple[float, int, int]:
    """Delete a seed-chosen 1/8 of the committed buckets of the finished
    extraction at ``out`` (all 256 unless the input is tiny) and time the
    re-run.

    A resume must process exactly the removed buckets and leave every
    other file in place. ``buckets`` holds each input row's bucket.
    Returns (seconds, rows that had to be redone, failed rows)."""
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    committed = sorted(_bucket_of(p.name) for p in (out / "_manifests").glob("bucket=*"))
    rng = np.random.default_rng([seed, N_BUCKETS])
    removed = {int(b) for b in rng.choice(committed, len(committed) // 8, replace=False)}
    for b in removed:
        shutil.rmtree(out / "data" / f"bucket={b}")
        shutil.rmtree(out / "_manifests" / f"bucket={b}")
    kept = file_set(out)
    redo = int(buckets.isin(removed).sum())
    _group(spark, "probe-resume")
    dt, info = _timed(
        lambda: run_resumable_extraction(
            spark.read.parquet(str(pages_dir)), str(out), keep_cols=KEEP_COLS
        )
    )
    touched = {_bucket_of(p) for p in set(file_set(out)) ^ set(kept) if "bucket=" in p}
    bad = touched - removed
    if info["buckets_processed"] != len(removed) or info["rows_in"] != redo:
        bad |= removed
    return dt, redo, int(buckets.isin(bad).sum())


def curation_metrics(info: dict, out: Path) -> dict:
    marker = json.loads((out / "pairs" / "_PHASE_COMPLETE").read_text())
    return {
        "sources.curation.pairs_s": info["phases"]["pairs"],
        "sources.curation.survivors_s": info["phases"]["survivors"],
        "sources.curation.n_pairs": marker["n_pairs"],
        "sources.curation.n_survivors": info["rows_out"],
    }


def curation_probe(spark, docs_dir: Path, out: Path) -> dict:
    from finetoo_sp_spark.sources.curation import run_resumable_curation

    reset_dir(out)
    _group(spark, "probe-curation")
    info = run_resumable_curation(spark.read.parquet(str(docs_dir)), str(out), max_df=100)
    return curation_metrics(info, out)


def operators_probe(spark, docs_dir: Path) -> dict:
    """The curation operators called directly, each forced by a noop write."""
    from pyspark.sql import functions as F

    from finetoo_sp_spark.operators import textstats
    from finetoo_sp_spark.operators.components import dedup_keep_list
    from finetoo_sp_spark.operators.dedup import ngram_jaccard_pairs, shingles

    docs = spark.read.parquet(str(docs_dir)).cache()
    docs.count()
    _group(spark, "probe-operators")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    out["operators.dedup.shingles_s"], _ = _timed(force, shingles(docs, "doc_id", "text"))
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, max_df=100).cache()
    out["operators.dedup.ngram_jaccard_pairs_s"], _ = _timed(force, pairs)
    out["operators.textstats.quality_scores_s"], _ = _timed(
        force, textstats.quality_scores(docs, "doc_id", "text")
    )
    ids = docs.select(F.col("doc_id").alias("id"))
    out["operators.components.dedup_keep_list_s"], _ = _timed(force, dedup_keep_list(pairs, ids))
    pairs.unpersist()
    docs.unpersist()
    return out


def multimodal_probe(spark, assets_dir: Path, out: Path) -> dict:
    from finetoo_sp_spark.multimodal import image_dimensions, image_stats

    assets = spark.read.parquet(str(assets_dir))
    _group(spark, "probe-multimodal")
    reset_dir(out)
    t_stats, _ = _timed(lambda: image_stats(assets).write.mode("overwrite").parquet(str(out / "s")))
    t_dims, _ = _timed(lambda: image_dimensions(assets).write.mode("overwrite").parquet(str(out / "d")))
    return {"multimodal.image_stats_s": t_stats, "multimodal.image_dimensions_s": t_dims}


def engine_metrics(ev: dict) -> dict:
    """Task totals of one job from the event log."""
    return {
        "engine.executor_run_s": ev["run_ms"] / 1000.0,
        "engine.executor_cpu_frac": ev["cpu_ns"] / 1e6 / max(ev["run_ms"], 1),
        "engine.jvm_gc_frac": ev["gc_ms"] / max(ev["run_ms"], 1),
        "engine.tasks": ev["tasks"],
        "engine.stages": ev["stages"],
        "engine.shuffle_write_bytes": ev["shuffle_write"],
        "engine.shuffle_read_bytes": ev["shuffle_read"],
        "engine.input_bytes": ev["input_bytes"],
    }


def arrow_metrics(ev: dict, rows: int) -> dict:
    """``MapInPandas`` metrics of one job, per input row where a count."""
    return {
        "arrow.bytes_to_python_per_row": ev["py_bytes_in"] / rows,
        "arrow.bytes_from_python_per_row": ev["py_bytes_out"] / rows,
        "arrow.python_init_s": ev["py_init_ms"] / 1000.0,
        "arrow.python_run_s": ev["py_run_ms"] / 1000.0,
        # the worker stamps its init clock before it blocks waiting for the
        # task, so init includes idle time between tasks; run time alone
        # is comparable with the JVM's executor run time
        "arrow.python_share_of_executor_run": ev["py_run_ms"] / max(ev["run_ms"], 1),
    }
