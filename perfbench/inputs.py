"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Every input is a pure function of the seed. Generation runs in the benchmark's
own process with no Spark session, is never timed, and writes into
``<work>/inputs/<name>-s<seed>-v<GEN_VERSION>/``. A directory counts as
complete only once its ``_SUCCESS`` marker exists; anything else is wiped
and rebuilt. ``meta.json`` records the sha256 of the stored parquet files,
and every later load re-hashes them against it, so a generator change
shows as a changed input digest, not as a gain.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator below changes its output
GEN_VERSION = 2
DATA_DIR = "data"
# an input is several files, as a crawl shard is, so the scan splits into
# parallel tasks; fixed, so the stored input depends on the seed alone
N_FILES = 8


def data_sha256(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def write_parts(table: pa.Table, out_dir: str) -> None:
    """Row order is kept: file k holds the k-th contiguous slice."""
    path = os.path.join(out_dir, DATA_DIR)
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def read_input(inp: dict, columns: list[str]) -> pa.Table:
    """The stored input in generation order."""
    return pa.concat_tables(
        pq.read_table(os.path.join(inp["path"], name), columns=columns)
        for name in sorted(os.listdir(inp["path"])))


def cached_input(work_dir: str, name: str, seed: int, build) -> dict:
    """Return ``{"dir", "path", **meta}`` for the (name, seed) input,
    building it with ``build(out_dir, seed) -> meta`` when not cached."""
    d = os.path.join(work_dir, "inputs", f"{name}-s{seed}-v{GEN_VERSION}")
    path = os.path.join(d, DATA_DIR)
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = build(d, seed)
        meta["digest"] = data_sha256(path)
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    if data_sha256(path) != meta["digest"]:
        raise RuntimeError(f"cached input {d} no longer matches its digest")
    return {"dir": d, "path": path, "seed": seed, **meta}


def _pages_table(rows: list[dict]) -> pa.Table:
    from final_ocr_spark.schema import PAGES_SCHEMA

    schema = pa.schema([
        ("url", pa.string(), False),
        ("warc_ts", pa.timestamp("us"), False),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    if [f.name for f in schema] != PAGES_SCHEMA.fieldNames():
        raise RuntimeError("PAGES_SCHEMA changed; update the page generator")
    return pa.Table.from_pylist(rows, schema=schema)


# ---------------------------------------------------------------------------
# corpus_neardup: stock pages plus heavy-tailed families of mutated copies

HOT_HOSTS = ("host0000.example.org", "host0001.example.org",
             "host0002.example.org")


def family_sizes(n_copies: int, largest: int) -> list[int]:
    """Zipf family sizes (largest, largest/2^2, largest/3^2, ..., then
    singletons) summing to exactly ``n_copies``: one family of ``largest``,
    a few mid-sized ones and a long tail of single copies."""
    sizes: list[int] = []
    k = 0
    while sum(sizes) < n_copies:
        sizes.append(max(1, int(largest / (k + 1) ** 2)))
        k += 1
    sizes[-1] -= sum(sizes) - n_copies
    return [s for s in sizes if s > 0]


# family sources are mid-length articles: long enough that a one- or
# two-word swap keeps the copies' 5-gram Jaccard near 0.9, short enough
# that the seed cannot pick a heavy-tail page and multiply its cost by a
# whole family
SOURCE_WORDS = (200, 400)


def _word_slots(html: bytes, vocab: set[bytes]) -> list[int]:
    return [i for i, t in enumerate(html.split(b" ")) if t in vocab]


def _mutate(html: bytes, words: list[bytes], rng: random.Random) -> bytes:
    """Swap one or two body words for other words of the same language."""
    toks = html.split(b" ")
    for i in rng.sample(_word_slots(html, set(words)), rng.randint(1, 2)):
        toks[i] = rng.choice(words)
    return b" ".join(toks)


def _lang_words(lang: str | None) -> list[bytes]:
    from final_ocr_spark.sources.synthetic_pages import WORDS

    return [w.encode() for w in WORDS.get(lang or "en", WORDS["en"])]


# the stock generator's html article lengths (synthetic_pages._gen_html):
# 1% huge (120-260 paragraphs), 9% long (25-60), the rest 3-12
LENGTH_CLASSES = ((120, 0.01), (25, 0.09), (0, 0.90))


def stratified_pages(seed: int, n: int) -> tuple[list[int], list[dict]]:
    """``n`` stock pages ``gen_page_row(seed, i)`` for ascending ``i``, taken
    while each article-length class is below its stock share of ``n``.
    A small corpus then always holds its 1% of huge pages, so the seed moves
    which pages are drawn but not how much work they are. Returns the chosen
    ``i`` and the rows."""
    from final_ocr_spark.sources.synthetic_pages import gen_page_row

    quota = [round(share * n) for _, share in LENGTH_CLASSES]
    quota[-1] = n - sum(quota[:-1])
    ids: list[int] = []
    rows: list[dict] = []
    i = 0
    while len(rows) < n:
        row = gen_page_row(seed, i)
        paras = row["html"].count(b"<p>")
        k = next(k for k, (lo, _) in enumerate(LENGTH_CLASSES) if paras >= lo)
        if quota[k]:
            quota[k] -= 1
            ids.append(i)
            rows.append(row)
        i += 1
    return ids, rows


# ---------------------------------------------------------------------------
# extract_resume: stock pages in generation order

def build_pages(n_pages: int):
    """``n_pages`` stratified stock pages. ``meta.json`` keeps each row's
    ``gen_page_row`` doc id, so the check can regenerate any page."""

    def build(out_dir: str, seed: int) -> dict:
        ids, rows = stratified_pages(seed, n_pages)
        write_parts(_pages_table(rows), out_dir)
        return {"items": len(rows), "doc_ids": ids}

    return build


def build_neardup(n_base: int, n_copies: int, largest_family: int):
    """``n_base`` stratified stock pages plus ``n_copies`` near-copies in
    Zipf-sized families. Family sources are html pages with a unique url and
    a word count in SOURCE_WORDS, drawn five times more often from the three
    hot hosts, and every copy lives on a hot host. ``meta.json`` lists each
    family's urls (source first) for the collapse check. Row order is
    shuffled so families spread over scan splits."""

    def build(out_dir: str, seed: int) -> dict:
        from collections import Counter

        from final_ocr_spark.sources.synthetic_pages import BASE_TS

        rng = random.Random(seed ^ 0xD0D0)
        _, base = stratified_pages(seed, n_base)
        url_count = Counter(r["url"] for r in base)
        lo, hi = SOURCE_WORDS
        sources = [r for r in base if r["html"].startswith(b"<!DOCTYPE")
                   and url_count[r["url"]] == 1
                   and lo <= len(_word_slots(r["html"],
                                             set(_lang_words(r["lang"])))) <= hi]
        weights = [5 if r["url"].split("/")[2] in HOT_HOSTS else 1
                   for r in sources]
        sizes = family_sizes(n_copies, largest_family)
        copies, families = [], []
        for fam, size in enumerate(sizes):
            src = rng.choices(sources, weights)[0]
            words = _lang_words(src["lang"])
            src_host = src["url"].split("/")[2]
            members = [src["url"]]
            for j in range(size):
                host = src_host if src_host in HOT_HOSTS else rng.choice(HOT_HOSTS)
                members.append(f"https://{host}/m/{fam:04d}-{j:05d}")
                copies.append({
                    "url": members[-1],
                    "warc_ts": (BASE_TS + dt.timedelta(
                        seconds=7 * n_base + len(copies))).replace(tzinfo=None),
                    "html": _mutate(src["html"], words, rng),
                    "text": None,
                    "lang": src["lang"],
                })
            families.append(members)
        rows = base + copies
        rng.shuffle(rows)
        write_parts(_pages_table(rows), out_dir)
        return {"items": len(rows), "copies": len(copies),
                "families": families, "largest_family": max(sizes)}

    return build


# ---------------------------------------------------------------------------
# scan_decode: page-like grayscale scans in four encodings

FORMATS = ("jpeg-baseline", "jpeg-progressive", "tiff-lzw", "png")
MIME = {"jpeg-baseline": "image/jpeg", "jpeg-progressive": "image/jpeg",
        "tiff-lzw": "image/tiff", "png": "image/png"}


def render_scan(rng: np.random.Generator, width: int, height: int,
                layout: int) -> np.ndarray:
    """A grayscale page: paper-white background with sensor noise, a title
    bar and text lines made of word-sized dark runs. Layout bit 0 splits the
    text into two columns, bit 1 adds a ruled table; the seed moves the
    words, not the layout, so every seed holds the same mix of pages."""
    img = np.full((height, width), 236, dtype=np.int16)
    mx, my = width // 12, height // 14
    img[my:my + 5, mx:width - mx] = 40                  # title bar
    cols = ([(mx, width // 2 - 3), (width // 2 + 3, width - mx)] if layout & 1
            else [(mx, width - mx)])
    table_at = height // 2 if layout & 2 else -1
    y = my + 12
    while y < height - my - 6:
        if 0 <= table_at <= y < table_at + 20:
            img[y:y + 20:5, mx:width - mx] = 70          # table rules
            img[y:y + 20, mx:width - mx:width // 5] = 70
            y += 24
            continue
        for x0, x1 in cols:
            x = x0
            while x < x1 - 4:
                w = int(rng.integers(3, 12))
                img[y:y + 4, x:min(x + w, x1)] = int(rng.integers(20, 80))
                x += w + int(rng.integers(2, 4))
        y += int(rng.integers(6, 9))
    img += rng.integers(-9, 10, size=img.shape, dtype=np.int16)
    return img.clip(0, 255).astype(np.uint8)


def encode_scan(img: np.ndarray, fmt: str) -> bytes:
    from final_ocr_spark.extract.jpeg import jpeg_encode
    from final_ocr_spark.extract.raster import png_encode, tiff_encode

    if fmt == "jpeg-baseline":
        return jpeg_encode(img, quality=85)
    if fmt == "jpeg-progressive":
        return jpeg_encode(img, quality=85, progressive=True)
    if fmt == "tiff-lzw":
        return tiff_encode(img, compression="lzw")
    return png_encode(img)


def build_scans(n_pages: int, width: int, height: int):
    """``n_pages`` scans, each stored once per format (media_id =
    4 * page + format index). Source pixels go to ``pixels.npy`` for the
    correctness checks; the program under test only sees the parquet."""

    def build(out_dir: str, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        pixels = np.stack([render_scan(rng, width, height, layout=p % 4)
                           for p in range(n_pages)])
        rows = []
        for p in range(n_pages):
            for f, fmt in enumerate(FORMATS):
                rows.append({
                    "media_id": 4 * p + f, "kind": "image",
                    "content": encode_scan(pixels[p], fmt), "mime": MIME[fmt],
                    "meta": json.dumps({"page": p, "format": fmt}),
                })
        schema = pa.schema([
            ("media_id", pa.int64(), False), ("kind", pa.string(), False),
            ("content", pa.binary()), ("mime", pa.string()),
            ("meta", pa.string()),
        ])
        write_parts(pa.Table.from_pylist(rows, schema=schema), out_dir)
        np.save(os.path.join(out_dir, "pixels.npy"), pixels)
        return {"items": len(rows), "pages": n_pages,
                "width": width, "height": height}

    return build
