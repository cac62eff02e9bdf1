"""The benchmark's workloads.

Each workload defines the job one timed iteration runs (first read to
committed output, always ending in a real write), the Python operators its
executed plan must contain, its correctness checks, and a traced
decomposition that calls the same public operators one layer at a time on
materialized inputs.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import inputs


def materialize(df):
    """Run ``df`` to completion and hold the result, so the next span reads
    a stored input and times only its own layer."""
    return df.localCheckpoint(eager=True)


def parquet_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def size_mb(files: list[str]) -> float:
    return sum(os.path.getsize(f) for f in files) / 1e6


def _canon(v):
    if isinstance(v, bytes):
        return "sha256:" + hashlib.sha256(v).hexdigest()
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return v


def table_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def rows_digest(rows: list[dict], key: str) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r[key]):
        h.update(json.dumps(_canon(r), sort_keys=True, default=str).encode())
        h.update(b"\n")
    return h.hexdigest()


def defaults(fn) -> dict:
    return {k: p.default for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty}


def read_pages(spark, inp):
    from final_ocr_spark.schema import PAGES_SCHEMA

    return spark.read.schema(PAGES_SCHEMA).parquet(inp["path"])


class Workload:
    name = ""
    python_nodes: tuple[str, ...] = ()
    # the layer spans whose self times sum to the decomposed pipeline
    layer_spans: tuple[str, ...] = ()
    # timed iterations run for --seconds and at least this many times; the
    # first iterations after the warm-up run slower, and the median of three
    # keeps one slow iteration out of the result
    min_iterations = 3

    # the input generator's arguments, also part of the input cache key
    size: tuple = ()

    def generator(self):
        raise NotImplementedError

    def prepare(self, work_dir: str, seed: int) -> dict:
        name = "-".join([self.name, *map(str, self.size)])
        return inputs.cached_input(work_dir, name, seed, self.generator())

    def run(self, spark, inp: dict, out: str) -> None:
        raise NotImplementedError

    def digest(self, out: str) -> str:
        raise NotImplementedError

    def check(self, inp: dict, out: str) -> list[str]:
        raise NotImplementedError

    def trace(self, spark, inp: dict, out: str, tr) -> dict:
        raise NotImplementedError

    def kernels(self, inp: dict, tr) -> dict:
        """Per-call kernel timings, taken outside the traced pipeline wall."""
        return {}

    def event_metrics(self, ev) -> dict:
        return {}


def trace_extraction(spark, inp: dict, tr) -> tuple:
    """Scan, ``extract_pages(dedup=True)`` split at its latest-wins dedup, one
    span each. Returns the extracted table and the extraction metrics."""
    from pyspark.sql import functions as F

    from final_ocr_spark.operators.dedup import dedup_latest
    from final_ocr_spark.operators.extract_pages import extract_pages
    from final_ocr_spark.plans.latency import (
        N_BUCKETS, latency_histogram, percentiles,
    )

    with tr.span("sources.scan"):
        pages = materialize(read_pages(spark, inp))
    acc = latency_histogram(spark.sparkContext)
    with tr.span("extract_pages.extract"):
        raw = materialize(extract_pages(pages, dedup=False, latency_acc=acc))
    with tr.span("dedup.latest"):
        ext = materialize(dedup_latest(raw, key="url", order_col="warc_ts"))
    # a percentile in the histogram's open overflow bucket reads None
    lat = percentiles(acc.value)
    overflow_ms = 2.0 ** ((N_BUCKETS - 2) / 4.0)
    return ext, {"extract_pages.batch_ms_p50": lat["p50"] or overflow_ms,
                 "extract_pages.batch_ms_p99": lat["p99"] or overflow_ms,
                 "extract_pages.quarantined":
                     raw.filter(F.col("error").isNotNull()).count()}


def extraction_event_metrics(ev) -> dict:
    return {f"extract_pages.{name}": ev.sql_metric(
                "extract_pages.extract", "MapInPandas", metric)
            for name, metric in (
                ("python_worker_s", "time to run Python workers"),
                ("arrow_mb_sent", "data sent to Python workers"),
                ("arrow_mb_recv", "data returned from Python workers"))}


# ---------------------------------------------------------------------------

class ExtractResume(Workload):
    name = "extract_resume"
    python_nodes = ("MapInPandas",)
    layer_spans = ("sources.scan", "extract_pages.extract", "dedup.latest",
                   "manifest.write_commit")
    ORACLE_SAMPLE = 64
    size = (2000,)

    def generator(self):
        return inputs.build_pages(*self.size)

    def run(self, spark, inp, out):
        from final_ocr_spark.plans.manifest import extract_with_resume

        extract_with_resume(spark, read_pages(spark, inp), out)

    def digest(self, out):
        return rows_digest(table_rows(out), "url")

    def check(self, inp, out):
        """Per-url byte identity with the pure-Python extraction of the
        regenerated page on a seeded url sample, plus the manifest commit."""
        import random

        from final_ocr_spark.extract.dispatch import extract_document
        from final_ocr_spark.plans.manifest import PartitionManifest
        from final_ocr_spark.sources.synthetic_pages import gen_page_row

        errs = []
        got = {r["url"]: r for r in table_rows(out)}
        seed = inp["seed"]
        latest: dict[str, dict] = {}
        repeated = set()
        for i in inp["doc_ids"]:
            row = gen_page_row(seed, i)
            if row["url"] in latest:
                repeated.add(row["url"])
            if row["url"] not in latest or \
                    row["warc_ts"] > latest[row["url"]]["warc_ts"]:
                latest[row["url"]] = row
        if set(got) != set(latest):
            return ["output urls differ from the input's distinct urls"]
        # a seeded sample, plus every url the input holds twice (latest wins)
        sample = set(random.Random(seed).sample(sorted(latest),
                                                self.ORACLE_SAMPLE))
        for url in sorted(sample | repeated):
            page = latest[url]
            want = extract_document(page["html"], page["text"], page["lang"])
            have = got[url]
            if have["warc_ts"].replace(tzinfo=None) != page["warc_ts"] or any(
                    have[k] != v for k, v in want.items()):
                errs.append(f"{url}: output differs from extract_document")
        done = [e for e in PartitionManifest(out).entries()
                if e.get("status") == "done"]
        if len(done) != 1 or done[0]["row_count"] != len(latest) or \
                sorted(done[0]["part_ids"]) != list(range(done[0]["num_parts"])):
            errs.append("manifest does not hold one commit of every part")
        return errs

    def trace(self, spark, inp, out, tr):
        from pyspark.sql import functions as F

        from final_ocr_spark.plans import manifest

        ext, m = trace_extraction(spark, inp, tr)
        # extract_with_resume's single-pass write and commit on a fresh
        # output directory, as its own code runs them after extraction
        num_parts = defaults(manifest.extract_with_resume)["num_parts"]
        lineage = {"app_id": spark.sparkContext.applicationId,
                   "code_version": manifest._code_version(),
                   "input_snapshot": ",".join(
                       sorted(read_pages(spark, inp).inputFiles())[:20]),
                   "num_parts": num_parts}
        part_col = F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int")
        with tr.span("manifest.write_commit"):
            manifest._write_parts(ext.withColumn("part_id", part_col), out,
                                  num_parts)
            manifest._commit_stats(spark, manifest.PartitionManifest(out), out,
                                   list(range(num_parts)), lineage)
        files = parquet_files(out)
        m["manifest.bytes_written_mb"] = size_mb(files)
        m["manifest.files"] = len(files)
        return m

    def event_metrics(self, ev):
        return extraction_event_metrics(ev)


# ---------------------------------------------------------------------------

class CorpusNearDup(Workload):
    name = "corpus_neardup"
    python_nodes = ("MapInPandas", "ArrowEvalPython")
    layer_spans = ("sources.scan", "extract_pages.extract", "dedup.latest",
                   "pipeline.select", "text_stats.quality", "repetition.gopher",
                   "pii.redact", "dedup.exact", "dedup.minhash", "dedup.verify",
                   "dedup.clusters", "dedup.representatives", "sinks.write")

    # stock pages, copies, largest family
    size = (300, 250, 150)
    # one iteration already takes longer than a run's --seconds
    min_iterations = 1

    def generator(self):
        return inputs.build_neardup(*self.size)

    def run(self, spark, inp, out):
        from final_ocr_spark.pipeline import corpus_pipeline
        from final_ocr_spark.sources.sinks import write_parquet

        write_parquet(corpus_pipeline(read_pages(spark, inp)), out, ["url"])

    def digest(self, out):
        return rows_digest(table_rows(out), "url")

    def check(self, inp, out):
        import re

        errs = []
        rows = table_rows(out)
        urls = [r["url"] for r in rows]
        if not rows:
            errs.append("empty corpus")
        if len(set(urls)) != len(urls):
            errs.append("output urls are not unique")
        src = set(inputs.read_input(inp, ["url"])["url"].to_pylist())
        if not set(urls) <= src:
            errs.append("output holds urls that are not in the input")
        # dedup_exact's key: Java \s runs collapsed to one space, lowercased
        norm = {hashlib.sha256(
            re.sub(r"[ \t\n\x0b\f\r]+", " ", r["text"]).lower().encode()
        ).digest() for r in rows}
        if len(norm) != len(rows):
            errs.append("two outputs share one normalized text")
        # near-dup removal keeps about one page per family; LSH may miss a
        # pair now and then, so a few surplus pages are tolerated
        kept = set(urls)
        surplus = sum(max(0, len(kept.intersection(fam)) - 1)
                      for fam in inp["families"])
        if surplus > inp["copies"] // 20:
            errs.append(f"near-copy families kept {surplus} pages beyond one "
                        f"each (at most {inp['copies'] // 20})")
        return errs

    def trace(self, spark, inp, out, tr):
        from pyspark.sql import functions as F

        from final_ocr_spark.operators.dedup import (
            band_buckets, dedup_clusters, dedup_exact,
            keep_cluster_representatives, minhash_near_dups, minhash_sigs,
            ngram_jaccard_pairs,
        )
        from final_ocr_spark.operators.pii import redact_pii
        from final_ocr_spark.operators.repetition import (
            gopher_repetition_keep, gopher_repetition_keep_udf,
        )
        from final_ocr_spark.operators.text_stats import (
            quality_score, quality_score_udf,
        )
        from final_ocr_spark.pipeline import corpus_pipeline
        from final_ocr_spark.sources.sinks import write_parquet
        from final_ocr_spark.streaming.stateful import with_host

        d = defaults(corpus_pipeline)
        ext, m = trace_extraction(spark, inp, tr)
        with tr.span("pipeline.select"):
            docs = materialize(with_host(
                ext.filter(F.col("error").isNull()
                           & (F.length("extracted_text") > 0))
                .select("url", "warc_ts",
                        F.col("extracted_text").alias("text"), "lang")))
        m["text_stats.rows_in"] = docs.count()
        score = (quality_score_udf()(F.col("text")) if d["quality_arrow"]
                 else quality_score(F.col("text")))
        with tr.span("text_stats.quality"):
            docs = materialize(docs.withColumn("quality_score", score).filter(
                F.col("quality_score") >= F.lit(d["min_quality"])))
        m["text_stats.rows_out"] = docs.count()
        keep = (gopher_repetition_keep_udf()(F.col("text")) if d["gopher_arrow"]
                else gopher_repetition_keep(F.col("text")))
        with tr.span("repetition.gopher"):
            docs = materialize(docs.filter(keep))
        m["repetition.rows_out"] = docs.count()
        with tr.span("pii.redact"):
            docs = materialize(docs.withColumn("text", redact_pii(F.col("text"))))
        with tr.span("dedup.exact"):
            docs = materialize(dedup_exact(docs, text_col="text", keep_col="url"))
        hashes, bands = d["minhash_hashes"], d["minhash_bands"]
        with tr.span("dedup.minhash"):
            cand = materialize(minhash_near_dups(
                docs, key="url", text_col="text", num_hashes=hashes,
                bands=bands, candidates_only=True))
        with tr.span("dedup.verify"):
            verified = materialize(
                ngram_jaccard_pairs(docs, cand, key="url", text_col="text", n=5)
                .filter(F.col("jaccard") >= d["jaccard_threshold"])
                .select("key_a", "key_b"))
        with tr.span("dedup.clusters"):
            clusters = materialize(
                dedup_clusters(verified, algorithm=d["cluster_algorithm"]))
        with tr.span("dedup.representatives"):
            kept = materialize(keep_cluster_representatives(
                docs, clusters, key="url",
                quality_col="quality_score" if d["neardup_keep_best"] else None))
        with tr.span("sinks.write"):
            write_parquet(kept, out, ["url"])
        n_cand, n_ver = cand.count(), verified.count()
        m["dedup.candidate_pairs"] = n_cand
        m["dedup.verified_pairs"] = n_ver
        m["dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
        sigs = minhash_sigs(docs, key="url", text_col="text", num_hashes=hashes)
        m["dedup.max_bucket_size"] = (
            band_buckets(sigs, bands, hashes // bands)
            .groupBy("band", "bucket").count().agg(F.max("count")).first()[0])
        m["sinks.bytes_written_mb"] = size_mb(parquet_files(out))
        return m

    def event_metrics(self, ev):
        return {**extraction_event_metrics(ev),
                "dedup.cluster_jobs": ev.jobs.get("dedup.clusters", 0)}


# ---------------------------------------------------------------------------

def phash64(img: np.ndarray) -> int:
    """8x8 average hash, bit i set when cell i is above the cell mean."""
    h, w = img.shape
    ys = np.minimum((np.arange(8) * h) // 8, h - 1)
    xs = np.minimum((np.arange(8) * w) // 8, w - 1)
    cells = img[ys][:, xs].astype(np.float64)
    v = sum(1 << i for i, b in enumerate((cells > cells.mean()).flatten()) if b)
    return v - (1 << 64) if v >= (1 << 63) else v


class ScanDecode(Workload):
    name = "scan_decode"
    python_nodes = ("MapInPandas",)
    layer_spans = ("sources.scan", "multimodal.features",
                   "multimodal.preprocess", "sinks.write")
    KERNEL_REPEATS = 3

    # pages, width, height: the reference's 1654x2339 aspect at 1/16
    size = (4, 103, 146)

    def generator(self):
        return inputs.build_scans(*self.size)

    def _write(self, feats, prep, out):
        from final_ocr_spark.sources.sinks import write_parquet

        write_parquet(feats, os.path.join(out, "features"), ["media_id"])
        write_parquet(prep, os.path.join(out, "preprocessed"), ["media_id"])

    def run(self, spark, inp, out):
        from final_ocr_spark.operators.multimodal import (
            image_features, preprocess_images,
        )

        media = spark.read.parquet(inp["path"])
        self._write(image_features(media), preprocess_images(media), out)

    def digest(self, out):
        return "".join(rows_digest(table_rows(os.path.join(out, part)), "media_id")
                       for part in ("features", "preprocessed"))

    def check(self, inp, out):
        from final_ocr_spark.operators.multimodal import decode_image

        errs = []
        pixels = np.load(os.path.join(inp["dir"], "pixels.npy"))
        content = {r["media_id"]: r["content"] for r in
                   inputs.read_input(inp, ["media_id", "content"]).to_pylist()}
        feats = {r["media_id"]: r
                 for r in table_rows(os.path.join(out, "features"))}
        prep = {r["media_id"]: r
                for r in table_rows(os.path.join(out, "preprocessed"))}
        if set(feats) != set(content) or set(prep) != set(content):
            return ["output media ids differ from the input"]
        bad = [i for i in content if feats[i]["error"] or prep[i]["error"]]
        if bad:
            errs.append(f"scans quarantined: {bad}")
        base, prog, tiff, png = range(4)
        for p, src in enumerate(pixels):
            ids = [4 * p + f for f in range(4)]
            want = {"width": src.shape[1], "height": src.shape[0],
                    "mean_luma": float(src.mean()), "std_luma": float(src.std()),
                    "phash": phash64(src)}
            for f in (tiff, png):
                if not np.array_equal(decode_image(content[ids[f]]), src):
                    errs.append(f"page {p}: {inputs.FORMATS[f]} pixels differ")
                if any(feats[ids[f]][k] != v for k, v in want.items()):
                    errs.append(f"page {p}: {inputs.FORMATS[f]} features differ")
            if not np.array_equal(decode_image(content[ids[prog]]),
                                  decode_image(content[ids[base]])):
                errs.append(f"page {p}: progressive pixels differ from baseline")
            if {**feats[ids[prog]], "media_id": 0} != \
                    {**feats[ids[base]], "media_id": 0} or \
                    prep[ids[prog]]["content"] != prep[ids[base]]["content"]:
                errs.append(f"page {p}: progressive output differs from baseline")
            if prep[ids[tiff]]["content"] != prep[ids[png]]["content"]:
                errs.append(f"page {p}: tiff and png preprocess outputs differ")
        return errs

    def trace(self, spark, inp, out, tr):
        from pyspark.sql import functions as F

        from final_ocr_spark.operators.multimodal import (
            image_features, preprocess_images,
        )

        with tr.span("sources.scan"):
            media = materialize(spark.read.parquet(inp["path"]))
        with tr.span("multimodal.features"):
            feats = materialize(image_features(media))
        with tr.span("multimodal.preprocess"):
            prep = materialize(preprocess_images(media))
        with tr.span("sinks.write"):
            self._write(feats, prep, out)
        return {"multimodal.quarantined":
                feats.filter(F.col("error").isNotNull()).count()
                + prep.filter(F.col("error").isNotNull()).count(),
                "sinks.bytes_written_mb": size_mb(parquet_files(out))}

    def kernels(self, inp, tr):
        """Codec and raster kernels on the stored scans, one call per span,
        single-threaded in the benchmark process."""
        from final_ocr_spark.extract.jpeg import jpeg_decode
        from final_ocr_spark.extract.raster import (
            binarize_otsu, clahe, nl_means_denoise, png_decode_gray, tiff_decode,
        )

        rows = inputs.read_input(inp, ["content", "meta"]).to_pylist()
        decoders = {"jpeg-baseline": ("jpeg.baseline", jpeg_decode),
                    "jpeg-progressive": ("jpeg.progressive", jpeg_decode),
                    "tiff-lzw": ("raster.tiff_lzw", tiff_decode),
                    "png": ("raster.png", png_decode_gray)}
        kernels = {"raster.clahe": lambda a: clahe(a, clip_limit=3.0),
                   "raster.nlm": lambda a: nl_means_denoise(a, h=10.0),
                   "raster.otsu": binarize_otsu}
        pixels = np.load(os.path.join(inp["dir"], "pixels.npy"))
        ms: dict[str, list[float]] = {}
        for _ in range(self.KERNEL_REPEATS):
            calls = [(*decoders[json.loads(r["meta"])["format"]], r["content"])
                     for r in rows]
            calls += [(name, fn, img) for img in pixels
                      for name, fn in kernels.items()]
            for name, fn, arg in calls:
                with tr.span(name):
                    fn(arg)
                span = tr.spans[-1]
                ms.setdefault(name, []).append(
                    (span["end"] - span["start"]) * 1e3)
        return {f"{name}_ms_p{q}": float(np.percentile(ms[name], q))
                for name, q in (("jpeg.baseline", 50), ("jpeg.baseline", 99),
                                ("jpeg.progressive", 50),
                                ("jpeg.progressive", 99),
                                ("raster.tiff_lzw", 50), ("raster.png", 50),
                                ("raster.clahe", 50), ("raster.nlm", 50),
                                ("raster.otsu", 50))}


WORKLOADS = {w.name: w for w in (ExtractResume(), CorpusNearDup(), ScanDecode())}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
