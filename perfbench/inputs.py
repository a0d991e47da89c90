"""Seeded workload inputs, their goldens, and the golden check.

Every workload is a ``pages`` table (url, warc_ts, html, text, lang)
written as parquet part files plus a goldens table (url,
extracted_text, amount, date, error).  Goldens come from the
generator (``sources.pages.generate_pages`` knows what it planted) or,
for rendered receipt images, from the text that was rendered — never
from running the engine.

Generation is harness work: it is cached per (workload, seed) under
the work directory and charged to no metric.  The engine only ever
sees the parquet rows.
"""

from __future__ import annotations

import json
import shutil
import zlib
from pathlib import Path

import pandas as pd

# Input sizes per workload.  They are part of the cache key, so a
# change never serves a stale cache; bump INPUT_VERSION when the way
# inputs are built changes.
INPUT_VERSION = 1
WEB_DOCS = 8_000
JOB_DOCS = 4_000
RECEIPT_PDFS = 1_600
RECEIPT_IMAGES = 16  # 1 image per 100 PDFs: see README "receipt_scans"
RECEIPT_IMAGE_SCALE = 2
# One receipt image per part file: Spark packs the largest files into
# the first splits, so image-heavy files must not cluster.
PART_FILES = RECEIPT_IMAGES
CACHED_INPUTS = 6  # newest (workload, seed) inputs kept on disk

GOLDEN_COLUMNS = ("extracted_text", "amount", "date", "error")
KEY_NULL = "\x00"
KEY_SEP = "\x1f"


def _web_frames(n_rows: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    from receipt_scanner_spark.sources.pages import generate_pages

    pages, goldens = generate_pages(n_rows=n_rows, seed=seed)
    return pages, goldens, {}


def _render_receipt(text: str) -> bytes | None:
    """PNG of ``text`` in the OCR font, or None when the font cannot
    draw one of its characters (euro sign, en dash, '|', ';', ...)."""
    from receipt_scanner_spark.extract.imaging import encode_png_gray
    from receipt_scanner_spark.extract.ocr import render_text

    try:
        px = render_text(text, scale=RECEIPT_IMAGE_SCALE)
    except ValueError:
        return None
    return encode_png_gray(px)


def _receipt_frames(seed: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """RECEIPT_PDFS PDF rows of ``generate_pages`` plus RECEIPT_IMAGES
    receipt images rendered from its HTML rows' receipt text, with no
    upstream text column.  Images are spread evenly through the table
    so every input split gets its share of the expensive rows."""
    from receipt_scanner_spark.extract.sniff import sniff_format
    from receipt_scanner_spark.sources.pages import generate_pages

    n_rows = 25_000
    while True:
        pages, goldens = generate_pages(n_rows=n_rows, seed=seed)
        fmts = [sniff_format(h) for h in pages.html]
        pdf_idx = [i for i, f in enumerate(fmts) if f == "pdf"]
        if len(pdf_idx) >= RECEIPT_PDFS:
            break
        n_rows *= 2
    pdf_idx = pdf_idx[:RECEIPT_PDFS]

    html_idx = [i for i, f in enumerate(fmts) if f == "html"]
    images: list[tuple[int, bytes]] = []
    scanned = 0
    for i in html_idx:
        if len(images) == RECEIPT_IMAGES:
            break
        scanned += 1
        png = _render_receipt(goldens.extracted_text[i])
        if png is not None:
            images.append((i, png))
    if len(images) < RECEIPT_IMAGES:
        raise RuntimeError("not enough renderable receipts in the generated rows")

    step = (len(pdf_idx) + len(images)) // len(images)
    rows, gold = [], []
    pdfs = iter(pdf_idx)
    for k in range(len(pdf_idx) + len(images)):
        if k % step == step // 2 and k // step < len(images):
            i, png = images[k // step]
            row = pages.iloc[i].to_dict()
            row.update(html=png, text=None)
            g = goldens.iloc[i].to_dict()
            g.update(extracted_text=g["extracted_text"].upper(), error=None)
        else:
            i = next(pdfs)
            row, g = pages.iloc[i].to_dict(), goldens.iloc[i].to_dict()
        rows.append(row)
        gold.append(g)
    pages_out = pd.DataFrame(rows)
    pages_out["warc_ts"] = pages_out["warc_ts"].astype("datetime64[us, UTC]")
    # share of the scanned receipt texts the font could not draw
    mix = {"receipt_unrenderable_share": round(1 - len(images) / scanned, 4)}
    return pages_out, pd.DataFrame(gold), mix


def build_frames(workload: str, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """(pages, goldens, extra mix facts) for one workload and seed."""
    if workload == "web_extract":
        return _web_frames(WEB_DOCS, seed)
    if workload == "job_commit":
        return _web_frames(JOB_DOCS, seed)
    if workload == "receipt_scans":
        return _receipt_frames(seed)
    raise ValueError(f"unknown workload {workload!r}")


def write_inputs(outdir: Path, pages: pd.DataFrame, goldens: pd.DataFrame,
                 meta: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages_dir = outdir / "pages.parquet"
    pages_dir.mkdir(parents=True)
    # explicit schema: an all-null text chunk must not infer another type
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    chunk = -(-len(pages) // PART_FILES)
    for i in range(PART_FILES):
        part = pages.iloc[i * chunk:(i + 1) * chunk]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, pages_dir / f"part-{i:05d}.parquet")
    goldens.to_parquet(outdir / "goldens.parquet", index=False)
    (outdir / "meta.json").write_text(json.dumps(meta, sort_keys=True))


def _mix(pages: pd.DataFrame) -> dict[str, int]:
    from receipt_scanner_spark.extract.sniff import maybe_gunzip, sniff_format

    counts: dict[str, int] = {}
    for h in pages.html:
        f = sniff_format(maybe_gunzip(h))
        counts[f] = counts.get(f, 0) + 1
    return dict(sorted(counts.items()))


class Inputs:
    """One workload's materialized input: parquet pages, goldens and
    the facts the provenance block reports."""

    def __init__(self, root: Path):
        self.root = root
        self.pages_path = str(root / "pages.parquet")
        self.first_part = str(root / "pages.parquet" / "part-00000.parquet")
        self.meta = json.loads((root / "meta.json").read_text())
        self._goldens: pd.DataFrame | None = None

    @property
    def goldens(self) -> pd.DataFrame:
        if self._goldens is None:
            self._goldens = pd.read_parquet(self.root / "goldens.parquet")
        return self._goldens

    @property
    def n_docs(self) -> int:
        return self.meta["docs"]

    def pages(self) -> pd.DataFrame:
        return pd.read_parquet(self.pages_path)


def prepare(cache_dir: Path, workload: str, seed: int) -> Inputs:
    """Build (or reuse) the cached input of ``workload`` for ``seed``."""
    sizes = (INPUT_VERSION, WEB_DOCS, JOB_DOCS, RECEIPT_PDFS, RECEIPT_IMAGES,
             RECEIPT_IMAGE_SCALE, PART_FILES)
    key = zlib.crc32(repr(sizes).encode())
    root = cache_dir / f"{workload}-seed{seed}-{key:08x}"
    if not (root / "_SUCCESS").exists():
        shutil.rmtree(root, ignore_errors=True)
        pages, goldens, extra = build_frames(workload, seed)
        meta = {"workload": workload, "seed": seed, "docs": len(pages),
                "mix": _mix(pages), **extra}
        write_inputs(root, pages, goldens, meta)
        (root / "_SUCCESS").write_text("ok")
    root.touch()
    old = sorted(cache_dir.glob("*-seed*-*"), key=lambda p: p.stat().st_mtime)
    for stale in old[:-CACHED_INPUTS]:
        shutil.rmtree(stale, ignore_errors=True)
    return Inputs(root)


# --- golden check ---------------------------------------------------------------

def _norm(v):
    return None if v is None or (isinstance(v, float) and v != v) else v


def count_failed(results: pd.DataFrame, goldens: pd.DataFrame) -> int:
    """Documents whose output row differs from its golden in any of
    extracted_text, amount, date, error.  A golden url with no output
    row fails; so does an output row for an unknown or repeated url."""
    want = {
        url: tuple(_norm(v) for v in vals)
        for url, *vals in goldens[["url", *GOLDEN_COLUMNS]].itertuples(
            index=False, name=None)
    }
    seen: set[str] = set()
    failed = 0
    for url, *vals in results[["url", *GOLDEN_COLUMNS]].itertuples(
            index=False, name=None):
        if url not in want or url in seen:
            failed += 1
            continue
        seen.add(url)
        if tuple(_norm(v) for v in vals) != want[url]:
            failed += 1
    return failed + len(want.keys() - seen)


def row_key_crc(values) -> int:
    """CRC32 of one output row as ``sparkrun.checksum_agg`` builds it in
    Spark: the url and golden columns, nulls as NUL, joined by 0x1F."""
    key = KEY_SEP.join(KEY_NULL if v is None else v for v in values)
    return zlib.crc32(key.encode("utf-8"))


def expected_checksum(goldens: pd.DataFrame) -> tuple[int, int]:
    """(row count, sum of row CRCs) an exact output must produce."""
    total = sum(
        row_key_crc(tuple(_norm(v) for v in row))
        for row in goldens[["url", *GOLDEN_COLUMNS]].itertuples(
            index=False, name=None)
    )
    return len(goldens), total


def expected_summary(goldens: pd.DataFrame) -> dict[str, int]:
    """``plans.pipeline.summary`` of an exact output: error rows excluded."""
    ok = goldens[goldens.error.isna()]
    return {"total": len(ok), "amount": int(ok.amount.notna().sum()),
            "date": int(ok.date.notna().sum())}


def expected_commit_metrics(goldens: pd.DataFrame) -> dict[str, int]:
    """Sum of the per-commit ``extraction_metrics`` of an exact output."""
    return {"total": len(goldens), "amount": int(goldens.amount.notna().sum()),
            "date": int(goldens.date.notna().sum()),
            "errors": int(goldens.error.notna().sum())}
