"""Narrow extract stage: documents -> candidate triples, zero shuffle.

Replaces the reference's serial per-page loop (listExtractor.py:122-142:
JVM subprocess per page + HTTP per element) with ONE Arrow-batched
``mapInArrow`` pass that fuses parse (P1-P3), rule dispatch (D1-D3) and the
mapper cascade (M1-M15) per document.  Batch and streaming run the same
kernel; the parse-only and metrics stages share its span decode:

  * the span array stays whole inside one row, so the section-title state
    machine folds in document order with no shuffle and no explode;
  * per-document state the reference relies on (mapped_domains, sticky award
    status, the staff-vs-alumni within-page anti-join) is naturally scoped;
  * rule tables ride along as broadcast variables captured in the closure;
  * entity-link *decisions* use a broadcast membership structure — an exact
    key set for small indexes, or the distributed-built Bloom bitmap
    (engine/bloom.py) the pipeline defaults to — URI *resolution* is left
    to the downstream broadcast-hash join (engine/linking.py): at full scale
    only a fixed-size bitmap ships to executors, never the index rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.extractors import dbr_ns, list_elem_clean
from ..core.links import DeferredLinker, split_sentinel
from ..core.mappers import _mint, extract_document
from ..core.parser import parse_spans
from .schemas import CANDIDATES_SCHEMA, ITEMS_SCHEMA, METRICS_SCHEMA

_DOC_COLS = ("doc_id", "lang", "res_class", "res_classes", "res_target")
_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _sentinel_parts(subj: str):
    """sentinel -> (link_lang, link_surface, minted fallback IRI).

    The fallback reproduces the miss branch's subject (reference
    mapper.py:884-887: list_elem_clean + fallback mint), used when the
    linking join finds no index row for a deferred mention."""
    hit = split_sentinel(subj)
    if hit is None:
        return None, None, None
    ll, ls = hit
    return ll, ls, _mint(list_elem_clean(ls), dbr_ns(ll))


def _kernel_input(documents: DataFrame) -> DataFrame:
    """Project the columns the kernels read.  ``res_target`` (the
    redirect-resolved page id) defaults to doc_id; ``res_classes`` (the -c
    classname override, or the page_types classes) defaults to [res_class]."""
    if "res_target" not in documents.columns:
        documents = documents.withColumn("res_target", F.col("doc_id"))
    if "res_classes" not in documents.columns:
        documents = documents.withColumn("res_classes", F.array("res_class"))
    return documents.select(*_DOC_COLS, "spans")


def _decode(batch: pa.RecordBatch):
    """One Arrow batch -> per-document (doc_id, lang, res_class, res_classes,
    res_target, spans), spans as (kind, text, media_ref, offset) tuples.

    The ListArray<Struct> spans column is flattened ONCE per batch into its
    four primitive children, read by field name, and sliced per document by
    the list offsets: no per-span object churn.  Spark writes a NULL spans
    cell as an empty offset range, so that document decodes with no spans."""
    spans = batch.column("spans")
    off = spans.offsets.to_pylist()
    child = spans.values
    span_rows = list(zip(*(child.field(f).to_pylist() for f in _SPAN_FIELDS)))
    cols = (batch.column(c).to_pylist() for c in _DOC_COLS)
    for r, doc in enumerate(zip(*cols)):
        yield (*doc, span_rows[off[r]:off[r + 1]])


def _to_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    cols = zip(*rows) if rows else ([] for _ in schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _broadcast_linker(documents: DataFrame, linkable_keys):
    return documents.sparkSession.sparkContext.broadcast(
        DeferredLinker(linkable_keys if linkable_keys is not None else set())
    )


def extract_candidates_arrow(documents: DataFrame, linkable_keys=None) -> DataFrame:
    """documents(doc_id, lang, res_class, spans[, res_target, res_classes])
    -> candidates (CANDIDATES_SCHEMA).

    ``linkable_keys``: broadcastable set (or Bloom filter) of (lang, surface)
    mention keys; link resolution is deferred to the join stage via
    sentinels, decomposed here into link_lang/link_surface/link_fallback.
    """
    b_linker = _broadcast_linker(documents, linkable_keys)
    out_schema = to_arrow_schema(CANDIDATES_SCHEMA)

    def run(batches):
        linker = b_linker.value
        for batch in batches:
            rows = []
            for doc_id, lang, _cls, classes, target, spans in _decode(batch):
                triples, _ = extract_document(target, classes, lang, spans, linker)
                for subj, pred, obj, dt in triples:
                    rows.append((doc_id, subj, pred, obj, dt, *_sentinel_parts(subj)))
            yield _to_batch(rows, out_schema)

    return _kernel_input(documents).mapInArrow(run, schema=CANDIDATES_SCHEMA)


def parse_items(documents: DataFrame) -> DataFrame:
    """Standalone parse stage (P1-P3): documents -> one row per list item.

    Used for the per-row parse-invariant check and as the resumability
    boundary mirroring the reference's resDict debug dump (utilities.py:101-153).
    """
    out_schema = to_arrow_schema(ITEMS_SCHEMA)

    def run(batches):
        for batch in batches:
            rows = []
            for doc_id, lang, res_class, _classes, _target, spans in _decode(batch):
                for section_path, items in parse_spans(spans, lang).items():
                    for idx, item in enumerate(items):
                        nested = isinstance(item, list)
                        for t in item if nested else [item]:
                            rows.append((doc_id, lang, res_class, section_path, idx,
                                         2 if nested else 1, t))
            yield _to_batch(rows, out_schema)

    return _kernel_input(documents).mapInArrow(run, schema=ITEMS_SCHEMA)


def extract_metrics(documents: DataFrame, linkable_keys=None) -> DataFrame:
    """Per-document extraction stats (the reference's evaluate() numbers,
    utilities.py:319-346), computed in the same narrow pass shape.  Honors a
    ``res_classes`` override column the same way extract_candidates_arrow
    does (so a -c classname override counts what the pipeline actually
    extracts)."""
    b_linker = _broadcast_linker(documents, linkable_keys)
    out_schema = to_arrow_schema(METRICS_SCHEMA)

    def run(batches):
        linker = b_linker.value
        for batch in batches:
            rows = []
            for doc_id, lang, _cls, classes, _target, spans in _decode(batch):
                triples, (n_sections, n_items, n_extracted) = extract_document(
                    doc_id, classes, lang, spans, linker
                )
                rows.append((doc_id, n_sections, n_items, n_extracted, len(triples)))
            yield _to_batch(rows, out_schema)

    return _kernel_input(documents).mapInArrow(run, schema=METRICS_SCHEMA)
