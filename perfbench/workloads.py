"""The benchmark workloads: inputs from a seed, the timed job, and
the output checks that feed ``failed``/``attempted``.

Each workload generates its inputs once (untimed, outside set-up), then
the harness calls ``prepare`` (untimed) and ``run`` (timed) per rep and
``check`` once at the end. Checks read outputs with pyarrow, never
through the library under test (only the lineage checksum is recomputed
with Spark's own ``xxhash64``), and count failed input rows.
"""

from __future__ import annotations

import collections
import hashlib
import json
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from engine import dir_bytes, file_set, reset_dir

N_BUCKETS = 256
PAGE_SCALE = 8
KEEP_COLS = ["warc_ts", "lang"]
HERE = Path(__file__).resolve().parent

# input rows per workload at each size; "tiny" is the smoke-test size
SIZES = {
    "full": {"pages": 8192, "docs": 5000, "assets": 42000},
    "tiny": {"pages": 512, "docs": 400, "assets": 140},
}


def write_split(df: pd.DataFrame, out: Path, n_files: int) -> None:
    reset_dir(out)
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part].reset_index(drop=True), preserve_index=False)
        pq.write_table(table, out / f"part-{k:05d}.parquet", coerce_timestamps="us")


def _read_dataset(path: Path, columns: list[str]) -> pd.DataFrame:
    """Read a hive-partitioned parquet directory (``bucket=*``) with pyarrow."""
    return pq.read_table(path, columns=columns, partitioning="hive").to_pandas()


def corrupt_one_row(data_dir: Path, column: str) -> None:
    """Rewrite the first data file with one value of ``column`` altered
    (smoke-test hook proving the checks are live)."""
    path = sorted(p for p in Path(data_dir).rglob("*.parquet"))[0]
    table = pq.read_table(path)
    vals = table.column(column).to_pylist()
    vals[0] = vals[0] + 1 if isinstance(vals[0], int) else (vals[0] or "") + " corrupted"
    idx = table.schema.get_field_index(column)
    table = table.set_column(idx, table.schema.field(idx), pa.array(vals, type=table.schema.field(idx).type))
    # Spark writes timestamps as INT96 and cannot read back nanosecond ones
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    # Hadoop's local file system would check the rewritten file against
    # its old checksum sidecar and fail the read instead of the check
    path.with_name(f".{path.name}.crc").unlink(missing_ok=True)


class Workload:
    name = ""
    rows = 0  # input rows per timed job
    in_bytes = 0  # on-disk input bytes per timed job
    min_reps = 1  # timed jobs per run, at least

    def __init__(self, work: Path, seed: int, size: str):
        self.work, self.seed, self.size = work, seed, size
        self.out = work / "out"

    def warm(self, spark) -> None:
        """A mini job of the workload's layer, run at every set-up: spawns
        the Python workers and imports the layer before anything is timed.
        Full-size jobs stay cold, as in a spark-submit batch run."""
        raise NotImplementedError

    def make_inputs(self, spark) -> None:
        raise NotImplementedError

    def prepare(self, spark, rep: int) -> None:
        reset_dir(self.out)

    def run(self, spark) -> dict:
        raise NotImplementedError

    def written_bytes(self, before: dict[str, int]) -> int:
        """Bytes of files under the output that the last job created."""
        after = file_set(self.out)
        return sum(sz for p, sz in after.items() if p not in before)

    def check(self, spark) -> tuple[int, int]:
        raise NotImplementedError

    def corrupt(self) -> None:
        raise NotImplementedError


# --- extraction ---------------------------------------------------------


class ExtractFull(Workload):
    """Fresh ``run_resumable_extraction`` over a page_scale=8 datagen corpus."""

    name = "extract_full"

    def __init__(self, work, seed, size):
        super().__init__(work, seed, size)
        self.n_pages = SIZES[size]["pages"]
        self.first_id = (seed % 50_000) * self.n_pages  # ids stay < 2^31
        self.pages_dir = work / "pages"
        self.rows = self.n_pages

    def warm(self, spark) -> None:
        from finetoo_sp_spark.datagen import gen_pages_pandas
        from finetoo_sp_spark.extraction.extract import extract_pages

        pdf = gen_pages_pandas(np.arange(64), page_scale=1)[["url", "html"]]
        extract_pages(spark.createDataFrame(pdf).repartition(4)).write.format("noop").mode(
            "overwrite"
        ).save()

    def make_inputs(self, spark) -> None:
        from pyspark.sql import functions as F

        from finetoo_sp_spark.datagen import PAGES_SCHEMA, gen_pages_pandas

        parts = max(1, min(256, self.n_pages // 2000))

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield gen_pages_pandas(pdf["id"].to_numpy(), page_scale=PAGE_SCALE)

        pages = (
            spark.range(self.first_id, self.first_id + self.n_pages, 1, parts)
            .mapInPandas(gen, schema=PAGES_SCHEMA)
            .cache()
        )
        pages.select("url", "warc_ts", "html", "lang").write.mode("overwrite").parquet(
            str(self.pages_dir)
        )
        # expected text from datagen (independent of the extractor) and the
        # bucket each url must land in, from Spark's xxhash64 directly
        pages.select(
            "url",
            "expected_text",
            F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
        ).write.mode("overwrite").parquet(str(self.work / "expected"))
        self.mean_page_bytes = float(pages.agg(F.avg(F.length("html"))).first()[0])
        pages.unpersist()
        self.expected = pq.read_table(self.work / "expected").to_pandas()
        self.in_bytes = dir_bytes(self.pages_dir)

    def run(self, spark) -> dict:
        from finetoo_sp_spark.sources.lineage import run_resumable_extraction

        return run_resumable_extraction(
            spark.read.parquet(str(self.pages_dir)), str(self.out), keep_cols=KEEP_COLS
        )

    def check(self, spark) -> tuple[int, int]:
        return len(self.expected), check_extraction(spark, self.out, self.expected)

    def corrupt(self) -> None:
        corrupt_one_row(self.out / "data", "text")


def check_extraction(spark, out: Path, expected: pd.DataFrame) -> int:
    """Failed input rows of a finished extraction output.

    A row fails when its url is missing, duplicated or in the wrong bucket,
    or its text differs from datagen's ``expected_text``. Every row of a
    bucket fails when its manifest is missing or duplicated, is not
    committed, has ``output_count != input_count`` or a checksum that
    differs from one recomputed over the data on disk."""
    from pyspark.sql import functions as F

    data = _read_dataset(out / "data", ["url", "text", "bucket"])
    data["bucket"] = data["bucket"].astype(np.int64)
    merged = expected.merge(data, on="url", how="left", suffixes=("", "_out"))
    dup_urls = set(data["url"][data["url"].duplicated()])
    bad_row = (
        merged["text"].isna()
        | (merged["text"] != merged["expected_text"])
        | (merged["bucket_out"] != merged["bucket"])
        | merged["url"].isin(dup_urls)
    )

    man = _read_dataset(
        out / "_manifests", ["bucket", "input_count", "output_count", "content_checksum", "status"]
    )
    man["bucket"] = man["bucket"].astype(np.int64)
    disk = (
        spark.read.parquet(str(out / "data"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_disk"),
            F.bit_xor(F.xxhash64("url", "text")).alias("checksum_disk"),
        )
        .toPandas()
    )
    disk["bucket"] = disk["bucket"].astype(np.int64)
    want = expected.groupby("bucket").size().rename("n_want").reset_index()
    b = want.merge(man, on="bucket", how="left").merge(disk, on="bucket", how="left")
    dup_buckets = set(man["bucket"][man["bucket"].duplicated()])
    bad_bucket = (
        b["status"].ne("committed")
        | b["input_count"].ne(b["n_want"])
        | b["output_count"].ne(b["n_want"])
        | b["n_disk"].ne(b["n_want"])
        | b["content_checksum"].ne(b["checksum_disk"])
        | b["bucket"].isin(dup_buckets)
    )
    bad_row |= merged["bucket"].isin(set(b["bucket"][bad_bucket]))
    extra = int((~data["url"].isin(expected["url"])).sum())
    return min(len(expected), int(bad_row.sum()) + extra)


# --- curation -------------------------------------------------------------

DOCUMENTS = HERE / "data" / "documents.parquet"
CURATE_REFERENCE = HERE / "curate_reference.json"


def curation_corpus(n_docs: int) -> pd.DataFrame:
    """The first ``n_docs`` documents of the stored corpus in text order.

    ``data/documents.parquet`` is the library's 5,000-document test corpus
    (columns ``doc_id``, ``text``, ``lang``, ``source``, ``n_chars``) with
    near-duplicate clusters built in. It is fixed, so the surviving set is
    a constant the benchmark stores; the workload seed only permutes the
    rows. Text order keeps near-duplicates together, so a smaller
    slice still has pairs: the 400 first documents by ``doc_id`` have none."""
    docs = pq.read_table(DOCUMENTS).to_pandas()
    docs = docs.sort_values(["text", "doc_id"], kind="stable")
    return docs.head(n_docs).reset_index(drop=True)


def curation_oracle(corpus: pd.DataFrame, n: int = 3, threshold: float = 0.5, max_df: int = 100) -> set:
    """Survivor ids of ``run_resumable_curation`` recomputed in plain Python.

    A doc survives when it passes the quality gate of
    ``textstats.quality_scores`` and is the smallest id of its
    near-duplicate cluster: connected components over pairs whose
    ``n``-word shingle Jaccard is at least ``threshold``, with shingles
    found in more than ``max_df`` docs left out of the intersection."""
    from finetoo_sp_spark.operators.textstats import STOPWORDS

    stops = {w for ws in STOPWORDS.values() for w in ws}
    quality, shingles = set(), {}
    for i, text in zip(corpus["doc_id"].tolist(), corpus["text"].tolist()):
        words = re.sub(r"\s+", " ", text.lower()).strip(" ").split(" ")
        n_words = len(words)
        mean_len = len(re.sub(r"\s+", "", text.lower())) / max(n_words, 1)
        stop_ratio = sum(w in stops for w in words) / max(n_words, 1)
        if n_words >= 10 and 2 <= mean_len <= 12 and stop_ratio >= 0.01:
            quality.add(i)
        shingles[i] = {
            " ".join(words[k : k + n]) for k in range(max(n_words - n, 0) + 1)
        } - {""}
    index = collections.defaultdict(list)
    for i, sh in shingles.items():
        for s in sh:
            index[s].append(i)
    inter = collections.Counter()
    for docs in index.values():
        if len(docs) <= max_df:
            docs.sort()
            for x in range(len(docs)):
                for y in range(x + 1, len(docs)):
                    inter[docs[x], docs[y]] += 1
    parent = {i: i for i in shingles}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for (a, b), k in inter.items():
        if round(k / (len(shingles[a]) + len(shingles[b]) - k), 6) >= threshold:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in quality if root(i) == i}


def survivor_digest(ids) -> str:
    return hashlib.sha256(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


class Curate(Workload):
    """Fresh ``run_resumable_curation`` (xxhash64, max_df=100)."""

    name = "curate"

    def __init__(self, work, seed, size):
        super().__init__(work, seed, size)
        self.n_docs = SIZES[size]["docs"]
        self.rows = self.n_docs
        self.docs_dir = work / "docs"

    def warm(self, spark) -> None:
        from finetoo_sp_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(curation_corpus(40)[["doc_id", "text"]])
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).write.format("noop").mode(
            "overwrite"
        ).save()

    def make_inputs(self, spark) -> None:
        self.corpus = curation_corpus(self.n_docs)
        rng = np.random.default_rng(self.seed)
        shuffled = self.corpus.iloc[rng.permutation(self.n_docs)]
        # a fixed file count keeps the input bytes, and so
        # out_bytes_per_in_byte, from moving with the seed
        write_split(shuffled, self.docs_dir, 4)
        self.in_bytes = dir_bytes(self.docs_dir)

    def run(self, spark) -> dict:
        from finetoo_sp_spark.sources.curation import run_resumable_curation

        return run_resumable_curation(
            spark.read.parquet(str(self.docs_dir)), str(self.out), max_df=100
        )

    def check(self, spark) -> tuple[int, int]:
        """Survivors must be the plain-Python oracle's set, whose count and
        digest must match the stored reference, each with its input text;
        the survivor manifests must count every written row."""
        want = curation_oracle(self.corpus)
        ref = json.loads(CURATE_REFERENCE.read_text())[str(self.n_docs)]
        out = _read_dataset(self.out / "survivors" / "data", ["id", "text"])
        man = _read_dataset(self.out / "survivors" / "_manifests", ["output_count"])
        got = out["id"].tolist()
        text = dict(zip(self.corpus["doc_id"], self.corpus["text"]))
        failed = len(want ^ set(got)) + (len(got) - len(set(got)))
        failed += sum(1 for i, t in zip(got, out["text"]) if text.get(i) != t)
        if (len(want), survivor_digest(want)) != (ref["n_survivors"], ref["digest"]) or int(
            man["output_count"].sum()
        ) != len(got):
            failed = max(failed, 1)
        return self.n_docs, min(self.n_docs, failed)

    def corrupt(self) -> None:
        corrupt_one_row(self.out / "survivors" / "data", "text")


# --- multimodal assets --------------------------------------------------

FORMATS = ["png", "jpeg", "gif", "webp", "tiff", "bmp", "ico"]
_ICO_SIDES = [16, 32, 48, 64, 256]


def expected_dims(i: int) -> tuple[str, int, int]:
    """datagen.gen_mixed_image_pandas's closed-form format and size."""
    k = i % 7
    w, h = [
        (16 + i % 8, 12 + i % 5),
        (8 * (2 + i % 3), 8 * (2 + i % 2)),
        (100 + i, 50 + i % 7),
        (1 + i % 200, 1 + (i * 3) % 150),
        (200 + i % 31, 100 + i % 17),
        (30 + i % 11, 20 + i % 9),
        (_ICO_SIDES[i % 5], _ICO_SIDES[i % 5]),
    ][k]
    return FORMATS[k], w, h


def expected_stats(i: int) -> tuple | None:
    """(width, height, channels, sum_r, sum_g, sum_b) for the four formats
    the decoder supports; None for the header-only ones it skips."""
    fmt, w, h = expected_dims(i)
    if fmt == "png":
        r = np.arange(h)[:, None, None]
        c = np.arange(w)[None, :, None]
        ch = np.arange(3)[None, None, :]
        s = ((i + 3 * r + 5 * c + 11 * ch) % 256).reshape(-1, 3).sum(axis=0)
        return (w, h, 3, int(s[0]), int(s[1]), int(s[2]))
    if fmt == "jpeg":  # flat 128 grey, one channel
        return (w, h, 1, 128 * w * h, 128 * w * h, 128 * w * h)
    if fmt in ("bmp", "ico"):  # all-black RGB
        return (w, h, 3, 0, 0, 0)
    return None


class AssetIngest(Workload):
    """``image_stats`` and ``image_dimensions`` over mixed-format images,
    both written to parquet."""

    name = "asset_ingest"
    # a job takes about 4 s warm, so a run times several; with three or
    # more the median is always a warm job, never the mean of the cold
    # first one and a warm one
    min_reps = 3

    def __init__(self, work, seed, size):
        super().__init__(work, seed, size)
        self.n_assets = SIZES[size]["assets"]
        self.rows = self.n_assets
        self.first_id = (seed % 2000) * 7  # ids stay < 2^16 - 100 (GIF width)
        self.assets_dir = work / "assets"

    def warm(self, spark) -> None:
        from finetoo_sp_spark.datagen import gen_mixed_image_pandas
        from finetoo_sp_spark.multimodal import image_dimensions, image_stats

        assets = spark.createDataFrame(gen_mixed_image_pandas(np.arange(14))).repartition(4)
        image_stats(assets).write.format("noop").mode("overwrite").save()
        image_dimensions(assets).write.format("noop").mode("overwrite").save()

    def make_inputs(self, spark) -> None:
        from finetoo_sp_spark.datagen import gen_mixed_image_pandas

        ids = np.arange(self.first_id, self.first_id + self.n_assets)
        write_split(gen_mixed_image_pandas(ids), self.assets_dir, 4)
        self.ids = ids
        self.in_bytes = dir_bytes(self.assets_dir)

    def run(self, spark) -> dict:
        import time

        from finetoo_sp_spark.multimodal import image_dimensions, image_stats

        assets = spark.read.parquet(str(self.assets_dir))
        t0 = time.perf_counter()
        image_stats(assets).write.mode("overwrite").parquet(str(self.out / "stats"))
        t1 = time.perf_counter()
        image_dimensions(assets).write.mode("overwrite").parquet(str(self.out / "dims"))
        t2 = time.perf_counter()
        return {"phases": {"image_stats": t1 - t0, "image_dimensions": t2 - t1}}

    def check(self, spark) -> tuple[int, int]:
        stats = pq.read_table(self.out / "stats").to_pandas()
        dims = pq.read_table(self.out / "dims").to_pandas()
        got_s = {
            int(r.asset_id): (r.width, r.height, r.channels, r.sum_r, r.sum_g, r.sum_b)
            for r in stats.itertuples()
        }
        got_d = {int(r.asset_id): (r.format, r.width, r.height) for r in dims.itertuples()}
        failed = 0
        for i in self.ids.tolist():
            if got_s.get(i) != expected_stats(i) or got_d.get(i) != expected_dims(i):
                failed += 1
        failed += (len(stats) - len(got_s)) + (len(dims) - len(got_d))  # duplicates
        failed += len(set(got_s) - set(self.ids.tolist()))
        return self.n_assets, min(self.n_assets, failed)

    def corrupt(self) -> None:
        corrupt_one_row(self.out / "dims", "width")


WORKLOADS = {w.name: w for w in (ExtractFull, Curate, AssetIngest)}
