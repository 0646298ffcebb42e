"""Batch KG workload ``kg_build`` (and the shared set-up, gate and cuts).

The operation is the flagship as users run it on a corpus slice:
``Pipeline(spark).run(..., canonicalize=True).count()`` over documents from
the program's own corpus generator (hub page every 50 documents, 400 items),
staged to parquet, against the fixture snapshots (``make_snapshots``).  The
snapshots are LocalRelations, so every snapshot join broadcasts and the
canonical map resolves on the driver; extract dominates the run, which makes
this the workload an extract-kernel change should move and the one where
Bloom, link and canonical-map work should stay near zero.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from list_extractor_spark.core.links import DeferredLinker
from list_extractor_spark.core.mappers import extract_document
from list_extractor_spark.engine.bloom import build_bloom
from list_extractor_spark.engine.canonicalize import (
    apply_canonical_df,
    canonical_map_df,
    identity_edges,
)
from list_extractor_spark.engine.extract import extract_candidates_arrow
from list_extractor_spark.engine.linking import AUTO_SALT, resolve_links, resolve_redirects
from list_extractor_spark.engine.pipeline import Pipeline, snapshots_to_dfs
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
from list_extractor_spark.fixtures import make_snapshots
from list_extractor_spark.fixtures.distributed import generate_documents
from list_extractor_spark.fixtures.oracle import oracle_triples

from staging import Stager, source_digest

TRIPLE_COLS = ["subj", "pred", "obj", "obj_dt"]
HUB_EVERY, HUB_ITEMS = 50, 400
MAPPERS_SAMPLE = 2000  # docs in the serial single-core extract baseline


def _rows(df, cols) -> set:
    """Distinct rows of ``df`` as tuples, collected through Arrow."""
    t = df.select(*cols).toArrow().to_pydict()
    return set(zip(*(t[c] for c in cols)))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class KGBatch:
    """One batch KG workload; ``run.py`` drives set-up, verify, op, trace."""

    # the fixture snapshots are LocalRelations: broadcast link join and the
    # driver-side canonical map; verify() asserts it from the physical plan
    expect_regime = ("broadcast", "driver")
    # untimed operations after verify: the first count() after the verify
    # collect still pays JIT work, a large share of an operation this short
    warmup_ops = 1
    # the code the staged inputs come from; part of the staging key
    generator = ("list_extractor_spark/fixtures", "perfbench/kg_batch.py")

    def __init__(self, ctx, name: str, n_docs: int, doc_files: int, seed_stream: int = 0):
        self.ctx = ctx
        self.spark = ctx.spark
        self.name = name
        self.n_docs = n_docs
        self.doc_files = doc_files
        self.doc_seed = ctx.seed ^ seed_stream
        gen = source_digest(*self.generator)
        self.stager = Stager(self.spark, ctx.work_dir,
                             f"{name}-s{ctx.seed}-n{n_docs}x{doc_files}-{gen}")
        self.snapshots = None
        self.oracle = None
        self.n_triples = None

    # -- set-up ----------------------------------------------------------
    def setup_pass(self) -> None:
        spark = self.spark
        self.stager.stage(
            "documents",
            lambda: generate_documents(spark, self.n_docs, seed=self.doc_seed, hub_every=HUB_EVERY,
                                       hub_items=HUB_ITEMS, partitions=self.doc_files),
        )
        self.docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(self.stager.path("documents"))
        self.mi, self.sa, self.rd = self.snapshot_dfs()

    def snapshot_dfs(self):
        """(mention index, sameAs, redirects) DataFrames the program links with."""
        self.snapshots = make_snapshots(self.ctx.seed)
        return snapshots_to_dfs(self.spark, self.snapshots)

    def oracle_snapshots(self) -> dict:
        """The same snapshots as Python lists, for the oracle."""
        return self.snapshots

    def pipeline(self):
        return Pipeline(self.spark).run(self.docs, self.mi, self.sa, self.rd, canonicalize=True)

    # -- verification ----------------------------------------------------
    def _oracle(self, docs_py) -> set:
        """Oracle triple set, cached next to the staged inputs and keyed also
        by the semantics code the oracle runs."""
        core = source_digest("list_extractor_spark/core", "list_extractor_spark/fixtures/oracle.py")
        path = self.stager.path(f"oracle-{core}.parquet")
        if os.path.exists(path):
            t = pq.read_table(path).to_pydict()
            return set(zip(*(t[c] for c in TRIPLE_COLS)))
        triples = oracle_triples(docs_py, self.oracle_snapshots())
        cols = list(zip(*triples))
        pq.write_table(pa.table(dict(zip(TRIPLE_COLS, cols))), path + ".tmp")
        os.rename(path + ".tmp", path)
        return triples

    def regime(self, df) -> tuple[str, str]:
        """(link join, canonical map) regime, read off the physical plan."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        link = "salted" if "salt_k" in plan else "broadcast"
        canon = "distributed" if "ExistingRDD" in plan else "driver"
        return link, canon

    def verify(self) -> list[str]:
        """Untimed: exact triple-set equality with the oracle over the staged
        documents; also the warm-up run.  Returns the problems found."""
        problems = []
        self.docs_py = self.docs.toArrow().to_pylist()
        # the pure-Python oracle runs beside the Spark run it is compared with
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle, self.docs_py)
            out_df = self.pipeline()
            got_regime = self.regime(out_df)
            out = self.ctx.plant(_rows(out_df, TRIPLE_COLS))
            self.oracle = oracle.result()
        if got_regime != self.expect_regime:
            problems.append(f"regime {got_regime} != expected {self.expect_regime}")
        if out != self.oracle:
            problems.append(
                f"triple set differs from oracle: {len(out - self.oracle)} extra, "
                f"{len(self.oracle - out)} missing"
            )
        self.n_triples = len(self.oracle)
        return problems

    # -- the timed operation ---------------------------------------------
    def op(self) -> dict:
        n = self.ctx.plant_count(self.pipeline().count())
        return {"ok": n == self.n_triples, "docs": self.n_docs, "triples": n}

    # -- traced pass -----------------------------------------------------
    def _cuts(self, tr, op: str) -> dict:
        docs, mi, sa, rd = self.docs, self.mi, self.sa, self.rd
        cores = self.ctx.cores
        _, scan = tr.span("sources.scan", lambda: _noop(docs), op)
        _, redir = tr.span("engine.linking.redirect",
                           lambda: _noop(resolve_redirects(docs, rd)), op)
        bloom, bl = tr.span("engine.bloom.build",
                            lambda: build_bloom(mi.select("lang", "surface")), op)
        obs_ex = Observation("extract")
        cands = extract_candidates_arrow(resolve_redirects(docs, rd), linkable_keys=bloom)
        _, ex = tr.span("engine.extract", lambda: _noop(cands.observe(
            obs_ex, F.count(F.lit(1)).alias("n"), F.count("link_surface").alias("deferred"))), op)
        linked = resolve_links(cands, mi, sa)
        _, ln = tr.span("engine.linking.link", lambda: _noop(linked), op)
        def canonical_map():
            cmap = canonical_map_df(identity_edges(rd, sa))
            return cmap, cmap.count()

        (cmap, map_rows), cm = tr.span("engine.canonicalize.map", canonical_map, op)
        obs_ap = Observation("apply")
        applied = apply_canonical_df(linked, cmap)
        _, ap = tr.span("engine.canonicalize.apply", lambda: _noop(applied.observe(
            obs_ap, F.count(F.lit(1)).alias("n"))), op)
        # the pipeline's last step: project to the triple columns and dedup
        obs_out = Observation("out")
        deduped = applied.select(*TRIPLE_COLS).dropDuplicates(TRIPLE_COLS)
        _, dd = tr.span("engine.pipeline.dedup", lambda: _noop(deduped.observe(
            obs_out, F.count(F.lit(1)).alias("n"))), op)

        idx = mi.filter("rank = 1").select(F.col("lang").alias("link_lang"),
                                           F.col("surface").alias("link_surface"))
        resolved = cands.filter(F.col("link_surface").isNotNull()).join(
            idx, ["link_lang", "link_surface"], "left_semi").count()
        deferred = obs_ex.get["deferred"]
        n_in, n_out = obs_ap.get["n"], obs_out.get["n"]
        task_ms = ex["counters"]["task_ms"]
        self.bloom = bloom
        return {
            "sources.scan_s": scan["wall_s"],
            "engine.linking.redirect_s": redir["wall_s"] - scan["wall_s"],
            "engine.extract.self_s": ex["wall_s"] - redir["wall_s"],
            "engine.extract.cpu_s": ex["cpu_s"] - redir["cpu_s"],
            "engine.extract.docs_per_core_s": self.n_docs / (ex["wall_s"] * cores),
            "engine.extract.candidates": obs_ex.get["n"],
            "engine.extract.task_skew": task_ms[2] / task_ms[1] if task_ms[1] else 0.0,
            "engine.bloom.build_s": bl["wall_s"],
            "engine.bloom.keys": mi.count(),
            "engine.linking.link_self_s": ln["wall_s"] - ex["wall_s"],
            "engine.linking.link_shuffle_bytes": ln["counters"]["shuffle_write_bytes"],
            "engine.linking.deferred_hit_ratio": resolved / deferred if deferred else 0.0,
            "engine.linking.regime": AUTO_SALT if self.regime(linked)[0] == "salted" else 0,
            "engine.canonicalize.map_s": cm["wall_s"],
            "engine.canonicalize.map_rows": map_rows,
            "engine.canonicalize.jobs": cm["counters"]["jobs"],
            "engine.canonicalize.apply_s": ap["wall_s"] - ln["wall_s"],
            "engine.pipeline.dedup_s": dd["wall_s"] - ap["wall_s"],
            "engine.pipeline.dedup_in_rows": n_in,
            "engine.pipeline.dedup_kept_ratio": n_out / n_in if n_in else 0.0,
            "engine.pipeline.dedup_shuffle_bytes": max(
                0, dd["counters"]["shuffle_write_bytes"] - ap["counters"]["shuffle_write_bytes"]),
            "engine.pipeline.spill_bytes": dd["counters"]["spill_bytes"],
        }

    def _mappers_docs_per_s(self) -> float:
        """Serial ``extract_document`` on one core: the single-threaded
        baseline the Spark kernel's per-core rate is compared against."""
        linker = DeferredLinker(self.bloom)
        sample = self.docs_py[:MAPPERS_SAMPLE]
        t0 = time.perf_counter()
        for d in sample:
            extract_document(d["doc_id"], [d["res_class"]], d["lang"], d["spans"], linker)
        return len(sample) / (time.perf_counter() - t0)

    def trace(self, tr, seconds: float) -> dict:
        deadline = time.perf_counter() + seconds
        rounds = []
        while not rounds or time.perf_counter() < deadline:
            rounds.append(self._cuts(tr, f"cuts-{len(rounds)}"))
        m = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
        m["core.mappers.docs_per_s"] = self._mappers_docs_per_s()
        m["engine.extract.glue_share"] = (
            1 - m["engine.extract.docs_per_core_s"] / m["core.mappers.docs_per_s"])
        return m
