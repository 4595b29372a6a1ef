"""Web-text front-end (SURVEY.md S8, §7.1 step 6; BASELINE.json
north_star): Iceberg/Parquet pages (url, warc_ts, html, text, lang) →
byte-identical text extraction → mention detection → (subj, pred, obj)
triple emission → canonicalization.

The reference has no extraction stage (it ingests pre-built triples);
this is the north rule's added front-end. Design:

- ``extract_text``: pure bytes→str function inside ``mapInPandas`` —
  no locale/environment dependence, so the per-url byte-identical
  invariant holds at any parallelism (BASELINE.json input_hint). The
  html shape is the fixture's template (FIXTURES.md §1): title in
  ``<h1>``, body in ``<p>``; anything else falls back to tag-stripping.
- ``emit_triples``: sentence split + predicate-lexicon matching in
  ``mapInPandas`` (Arrow-batched; one module-level regex) →
  surface triples (subj, pred, obj) with url lineage.
- ``canonicalize_triples``: surface names → canonical entity ids via
  dict-encode + connected-components over same-name/alias edges.

Scale: extraction is embarrassingly parallel (one pass, no shuffle);
triple emission shuffles only for the final dedup; canonicalization is
the CC loop (O(log²) rounds).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sources.fixtures import PREDICATES

_H1 = re.compile(rb"<h1>(.*?)</h1>", re.S)
_P = re.compile(rb"<p>(.*?)</p>", re.S)
_TAG = re.compile(rb"<[^>]+>")


def extract_text_bytes(html: bytes) -> str:
    """Pure function: html bytes → extracted text (deterministic,
    byte-identical per input). Template-aware with tag-strip fallback."""
    if html is None:
        return ""
    h1 = _H1.search(html)
    p = _P.search(html)
    if h1 is not None and p is not None:
        return h1.group(1).decode("utf-8") + "\n" + p.group(1).decode("utf-8")
    return _TAG.sub(b" ", html).decode("utf-8", errors="replace").strip()


def extract_text(pages: DataFrame) -> DataFrame:
    """(url, html, ...) → + extracted_text column via mapInPandas."""
    cols = pages.columns
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields)
    schema += ", extracted_text string"

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["extracted_text"] = [extract_text_bytes(b) for b in pdf["html"]]
            yield pdf

    return pages.mapInPandas(fn, schema=schema)


def verify_byte_identical(pages: DataFrame) -> int:
    """Driver invariant: extracted_text == golden text per url.
    Returns the number of mismatching urls (must be 0)."""
    ext = extract_text(pages)
    return ext.where(F.col("extracted_text") != F.col("text")).count()


_TRIPLE_SCHEMA = "subj string, pred string, obj string, url string"


# ``"{subj} {pred} {obj}."`` sentences over the predicate lexicon
_TRIPLE = re.compile(
    r"(?m)([^.\n]+?)\s+(" + "|".join(re.escape(p) for p in PREDICATES) + r")\s+([^.\n]+?)\."
)


def _match_triples(docs) -> pd.DataFrame:
    """Surface triples of ``(url, text)`` docs; the title line is skipped."""
    out = {"subj": [], "pred": [], "obj": [], "url": []}
    for url, text in docs:
        body = text.split("\n", 1)[-1]
        for m in _TRIPLE.finditer(body):
            out["subj"].append(m.group(1).strip())
            out["pred"].append(m.group(2))
            out["obj"].append(m.group(3).strip())
            out["url"].append(url)
    return pd.DataFrame(out)


def emit_triples(pages: DataFrame) -> DataFrame:
    """Mention detection + triple emission (north star): sentences of
    the form ``"{subj} {pred} {obj}."`` matched against a predicate
    lexicon. Returns (subj, pred, obj, url) surface triples with lineage.

    Subjects/objects are surface names (space-separated); downstream
    canonicalization joins them to the entity dim. The title line is the
    page's own subject context (not used by the template matcher but
    kept for future coref)."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _match_triples((
                (url, text) for url, text in zip(pdf["url"], pdf["text"])
                if text is not None
            ))

    return pages.select("url", "text").mapInPandas(fn, schema=_TRIPLE_SCHEMA)


def emit_triples_verified(pages: DataFrame) -> DataFrame:
    """Single-pass extract + byte-identical verify + emit: extracts text
    from html, RAISES if it differs from the golden ``text`` column
    (driver invariant), and emits surface triples from the extracted
    text — one scan, no second verification pass. Only ``bench.py``
    and ``scripts/construct_probe.py`` call it; the pipeline
    (``construct_kg_from_pages``) runs ``triples_for_parity`` →
    ``emit_triples``, and ``verify_byte_identical`` remains the
    standalone audit."""
    def verified(pdf: pd.DataFrame):
        for url, html, golden in zip(pdf["url"], pdf["html"], pdf["text"]):
            text = extract_text_bytes(bytes(html) if html is not None else None)
            if golden is not None and text != golden:
                raise ValueError(f"byte-identical extraction violated for {url}")
            yield url, text

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _match_triples(verified(pdf))

    return pages.select("url", "html", "text").mapInPandas(fn, schema=_TRIPLE_SCHEMA)


def surface_to_name(col):
    """Display form → underscore name (inverse of the fixture's
    ``_display``)."""
    return F.regexp_replace(col, " ", "_")


def triples_for_parity(pages: DataFrame) -> DataFrame:
    """Emitted triples in the golden table's name space (subj, pred,
    obj underscore names), deduplicated — the P/R ≥ 0.95 comparand."""
    t = emit_triples(pages)
    return t.select(
        surface_to_name(F.col("subj")).alias("subj"),
        F.col("pred"),
        surface_to_name(F.col("obj")).alias("obj"),
    ).distinct()
