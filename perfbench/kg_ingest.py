"""Streaming write path beside a read: ``kg_ingest``.

One operation is one ingest cycle:

  1. drain a directory of parquet span files into a fresh versioned graph
     table with ``stream_triples_versioned`` (availableNow, one snapshot
     commit per micro-batch, canonical map applied in-stream);
  2. ``compact_table``;
  3. one ``read_graph_at`` subject-range read that manifest bounds prune.

The link dimension the stream joins against (Bloom filter over the mention
index, canonical map over the identity edges) is built in each set-up pass,
not per cycle.

Streaming runs the pandas ``extract_candidates`` kernel and pays a per-commit
write, stats and manifest cost that grows with table history; ``kg_build``
shows neither.  The documents come from another seed stream than
``kg_build``'s; the snapshots are the same fixture snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import uuid
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from list_extractor_spark.engine.bloom import build_bloom
from list_extractor_spark.engine.canonicalize import (
    apply_canonical_df,
    canonical_map_df,
    identity_edges,
)
from list_extractor_spark.engine.extract import extract_candidates_arrow
from list_extractor_spark.engine.linking import resolve_links
from list_extractor_spark.engine.snapshots import compact_table, read_graph_at, verify_table
from list_extractor_spark.streaming.stream_extract import (
    stream_documents,
    stream_triples_versioned,
)

from kg_batch import KGBatch

N_FILES = 8           # stream_documents takes 4 files per trigger: 2 micro-batches
DOCS_PER_FILE = 100
SEED_STREAM = 0x5EED  # ingest documents come from another seed stream than kg_build
SUBJ_RANGE = ("http://dbpedia.org/resource/A", "http://dbpedia.org/resource/M")
COLS = ["doc_id", "subj", "pred", "obj", "obj_dt"]


def _progress_fields(p) -> dict:
    """Timings of one micro-batch from its StreamingQueryProgress (a dict)."""
    d = p.get("durationMs", {})
    return {"trigger_ms": d.get("triggerExecution", 0), "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "offset_commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0),
            "rows": p.get("numInputRows", 0)}


def _manifests(table: str) -> list[dict]:
    meta = os.path.join(table, "metadata")
    out = []
    for fn in os.listdir(meta):
        if fn.startswith("snap-") and fn.endswith(".json"):
            with open(os.path.join(meta, fn)) as f:
                m = json.load(f)
            m["_bytes"] = os.path.getsize(os.path.join(meta, fn))
            out.append(m)
    return sorted(out, key=lambda m: m["snapshot_id"])


def _bytes(files) -> int:
    return sum(os.path.getsize(f["path"]) for f in files)


def _multiset(df) -> Counter:
    t = df.select(*COLS).toArrow().to_pydict()
    return Counter(zip(*(t[c] for c in COLS)))


class KGIngest(KGBatch):
    warmup_ops = 0  # the first cycle's extra JIT work is small beside its 5-6 s

    def __init__(self, ctx):
        super().__init__(ctx, "kg_ingest", N_FILES * DOCS_PER_FILE, N_FILES, SEED_STREAM)
        self.dimension_s: list[float] = []
        self.expected = None
        self.batches: list[dict] = []
        self.layers: list[dict] = []

    def setup_pass(self) -> None:
        super().setup_pass()
        t0 = time.perf_counter()
        self.bloom = build_bloom(self.mi.select("lang", "surface"))
        self.cmap = canonical_map_df(identity_edges(self.rd, self.sa))
        self.dimension_s.append(time.perf_counter() - t0)

    def _ingest(self) -> dict:
        """One ingest cycle into a fresh table; leaves the table for the caller."""
        spark = self.spark
        root = os.path.join(self.ctx.work_dir, "ingest", uuid.uuid4().hex[:8])
        table = os.path.join(root, "table")
        t1 = time.perf_counter()
        q = stream_triples_versioned(
            stream_documents(spark, self.stager.path("documents")), self.mi, self.sa,
            self.bloom, table, os.path.join(root, "ckpt"), canonical_map=self.cmap)
        q.awaitTermination()
        t2 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [_progress_fields(p) for p in q.recentProgress]
        pre = _manifests(table)
        compact_table(spark, table)
        t3 = time.perf_counter()
        pruned_df = read_graph_at(spark, table, subj_range=SUBJ_RANGE)
        pruned = pruned_df.count()
        t4 = time.perf_counter()
        return {"root": root, "table": table, "drain_s": t2 - t1, "compact_s": t3 - t2,
                "pruned_read_s": t4 - t3, "pruned": pruned,
                "pruned_files": len(pruned_df.inputFiles()),
                "progress": [p for p in progress if p["rows"] > 0],
                "pre": pre, "post": _manifests(table)}

    def verify(self) -> list[str]:
        """Untimed: the read-back multiset equals one batch extract + link +
        canonical apply over the same files with the same dimension; its
        distinct triples equal the oracle's; the pruned read equals the full
        read filtered to the range; the table audit finds no missing file and
        no bad manifest.  Also the warm-up run."""
        spark = self.spark
        problems = []
        self.docs_py = self.docs.toArrow().to_pylist()
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle, self.docs_py)
            run = self._ingest()
            try:
                batch = apply_canonical_df(resolve_links(
                    extract_candidates_arrow(self.docs, linkable_keys=self.bloom),
                    self.mi, self.sa), self.cmap)
                got_regime = self.regime(batch)
                want = _multiset(batch)
                full = self.ctx.plant(_multiset(read_graph_at(spark, run["table"])))
                lo, hi = SUBJ_RANGE
                pruned = _multiset(read_graph_at(spark, run["table"], subj_range=SUBJ_RANGE))
                audit = verify_table(run["table"])
            finally:
                shutil.rmtree(run["root"], ignore_errors=True)
            self.oracle = oracle.result()
        if got_regime != self.expect_regime:
            problems.append(f"regime {got_regime} != expected {self.expect_regime}")
        if full != want:
            problems.append(f"read-back differs from batch: {sum((full - want).values())} extra, "
                            f"{sum((want - full).values())} missing rows")
        if {r[1:] for r in full} != self.oracle:
            problems.append("distinct read-back triples differ from the oracle")
        in_range = Counter({r: c for r, c in full.items() if lo <= r[1] <= hi})
        if pruned != in_range or not pruned:
            problems.append("pruned read differs from the filtered full read, or is empty")
        if audit["missing_files"] or audit["bad_manifests"]:
            problems.append(f"verify_table: {audit['missing_files'][:3]} {audit['bad_manifests'][:3]}")
        self.expected = (sum(want.values()), sum(in_range.values()))
        self.n_triples = self.expected[0]
        return problems

    def op(self) -> dict:
        run = self._ingest()
        try:
            rows = self.ctx.plant_count(run["post"][-1]["total_rows"])
            self.batches.extend(run["progress"])
            self.layers.append(self._ingest_layers(run))
        finally:
            shutil.rmtree(run["root"], ignore_errors=True)
        return {"ok": (rows, run["pruned"]) == self.expected, "docs": self.n_docs,
                "triples": rows}

    @staticmethod
    def _ingest_layers(run) -> dict:
        pre, post = run["pre"], run["post"]
        commits = [m for m in pre if (m.get("marker") or "").startswith("batch-")]
        new_files = [len(b["files"]) - len(a["files"])
                     for a, b in zip([{"files": []}] + commits, commits)]
        before, after = pre[-1]["files"], post[-1]["files"]
        kept = {f["path"] for f in before} & {f["path"] for f in after}
        written = [f for f in after if f["path"] not in kept]
        return {
            "streaming.drain_s": run["drain_s"],
            "engine.snapshots.files_per_commit": statistics.mean(new_files),
            "engine.snapshots.manifest_bytes": commits[-1]["_bytes"],
            "engine.snapshots.bytes_per_triple": _bytes(before) / pre[-1]["total_rows"],
            "engine.snapshots.compact_files_in": len(before) - len(kept),
            "engine.snapshots.compact_files_out": len(written),
            "engine.snapshots.compact_bytes_rewritten": _bytes(written),
            "engine.snapshots.read_files_scanned_ratio": run["pruned_files"] / len(after),
            "engine.snapshots.compact_s": run["compact_s"],
            "engine.snapshots.pruned_read_s": run["pruned_read_s"],
        }

    def trace(self, tr, seconds: float) -> dict:
        m = super().trace(tr, 0)  # one round of batch cuts over the same inputs
        m["streaming.dimension_s"] = statistics.median(self.dimension_s)
        self.batches, self.layers = [], []
        deadline = time.perf_counter() + seconds
        while not self.layers or time.perf_counter() < deadline:
            r, _ = tr.span("kg_ingest.op", self.op, f"ingest-{len(self.layers)}")
            self.ctx.count(r["ok"])
        m.update({k: statistics.median(r[k] for r in self.layers) for k in self.layers[0]})
        trig = [b["trigger_ms"] for b in self.batches]
        m.update({
            "streaming.batch_p50_ms": statistics.median(trig),
            "streaming.batch_p90_ms": statistics.quantiles(trig, n=10, method="inclusive")[8],
            "streaming.add_batch_ms": statistics.median(b["add_batch_ms"] for b in self.batches),
            "streaming.query_planning_ms": statistics.median(
                b["query_planning_ms"] for b in self.batches),
            "streaming.offset_commit_ms": statistics.median(
                b["offset_commit_ms"] for b in self.batches),
            "streaming.rows_per_batch": statistics.median(b["rows"] for b in self.batches),
            "streaming.batches": len(self.batches) / len(self.layers),
        })
        return m
