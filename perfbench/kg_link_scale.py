"""Dump-scale batch KG workload: ``kg_link_scale``.

The operation is the same ``Pipeline(spark).run(..., canonicalize=True)
.count()`` as ``kg_build``, over fewer documents, against file-backed
snapshots large enough to leave the small-input fast paths:

* a mention index of the fixture mentions (plus rank-2 alternates) and
  ``INDEX_ROWS`` distractor surfaces no document mentions: its parquet is
  larger than the broadcast threshold this workload sets, so the link join
  takes the salted shuffle path, and it is a file scan, so the Bloom filter
  is built by the distributed two-stage job;
* sameAs and redirect snapshots of more than 100,000 identity edges in all
  (the canonical map's driver threshold), so the distributed pointer-doubling
  loop runs.  Identity chains are two hops long (two pointer-doubling
  rounds); some start at document ids, and every fixture sameAs target is
  redirected once, so the canonical map rewrites output triples.

The distractor rows are generated in Spark from ``spark.range`` and the seed,
and staged through the keyed ``Stager`` with the documents.  The broadcast
threshold is lowered so the regime change happens at a size one operation
can repeat within a run; ``verify()`` asserts the regime from the physical
plan, because a planner that misjudges the index size would otherwise fall
back to broadcast without a sign.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from list_extractor_spark.engine.schemas import (
    MENTION_INDEX_SCHEMA,
    REDIRECTS_SCHEMA,
    SAMEAS_SCHEMA,
)
from list_extractor_spark.fixtures import make_snapshots

from kg_batch import KGBatch

N_DOCS = 1000
INDEX_ROWS = 30_000        # distractor mention-index rows (every 4th is rank 2)
SAMEAS_ROWS = 30_000       # distractor sameAs rows
REDIRECT_CHAINS = 40_000   # two-hop distractor redirect chains: 80,000 rows
BROADCAST_BYTES = 128 * 1024  # the staged index is about 300 KB
SEED_STREAM = 0x11CC       # documents come from another seed stream than kg_build's
DBR = "http://dbpedia.org/resource/"
WD = "http://www.wikidata.org/entity/Q"
SNAPSHOTS = (("mention_index", MENTION_INDEX_SCHEMA), ("sameas", SAMEAS_SCHEMA),
             ("redirects", REDIRECTS_SCHEMA))


def _snapshot_rows(seed: int, n_docs: int) -> dict:
    """The fixture snapshots plus rows that touch the output: rank-2
    alternates of every fixture mention, two-hop redirect chains from
    redirect documents, and one redirect from every fixture sameAs target."""
    snap = make_snapshots(seed)
    mi = list(snap["mention_index"])
    mi += [(lang, surface, f"{WD}{2_000_000 + j}", 2)
           for j, (lang, surface, _, _) in enumerate(snap["mention_index"])]
    rd = list(snap["redirects"])
    for i in range(9, n_docs, 12):  # doc ids Redirect_<i> (template 9 of 12)
        rd += [(f"Redirect_{i}", f"Moved_{i}"), (f"Moved_{i}", f"Final_{i}")]
    for _, dbp in snap["sameas"]:
        name = dbp[len(DBR):]
        rd.append((name, f"{name}_(topic)"))
    return {"mention_index": mi, "sameas": list(snap["sameas"]), "redirects": rd}


class KGLinkScale(KGBatch):
    expect_regime = ("salted", "distributed")
    warmup_ops = 0  # the first operation's extra JIT work is small beside its 6-7 s
    generator = KGBatch.generator + ("perfbench/kg_link_scale.py",)

    def __init__(self, ctx):
        ctx.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_BYTES))
        super().__init__(ctx, "kg_link_scale", N_DOCS, 2 * ctx.cores, SEED_STREAM)

    def _distractors(self, name: str):
        spark, seed, parts = self.spark, self.ctx.seed, self.ctx.cores
        if name == "mention_index":
            return spark.range(INDEX_ROWS, numPartitions=parts).select(
                F.lit("en").alias("lang"),
                F.format_string("{{Distractor %d %d}}", F.lit(seed), "id").alias("surface"),
                F.format_string(f"{WD}%d", F.col("id") + 10_000_000).alias("wikidata_uri"),
                F.when(F.col("id") % 4 == 3, 2).otherwise(1).cast("int").alias("rank"),
            )
        if name == "sameas":
            return spark.range(SAMEAS_ROWS, numPartitions=parts).select(
                F.format_string(f"{WD}%d", F.col("id") + 10_000_000).alias("wikidata_uri"),
                F.format_string(f"{DBR}Distractor_%d_%d", F.lit(seed), "id").alias("dbpedia_uri"),
            )
        hop = F.col("id") % 2
        k = F.floor(F.col("id") / 2)

        def name_(prefix):
            return F.format_string(f"{prefix}_%d_%d", F.lit(seed), k)

        return spark.range(2 * REDIRECT_CHAINS, numPartitions=parts).select(
            F.when(hop == 0, name_("Old")).otherwise(name_("Mid")).alias("src"),
            F.when(hop == 0, name_("Mid")).otherwise(name_("New")).alias("dst"),
        )

    def snapshot_dfs(self):
        spark = self.spark
        rows = _snapshot_rows(self.ctx.seed, self.n_docs)
        out = []
        for name, schema in SNAPSHOTS:
            self.stager.stage(name, lambda: spark.createDataFrame(rows[name], schema)
                              .unionByName(self._distractors(name)).repartition(1))
            out.append(spark.read.schema(schema).parquet(self.stager.path(name)))
        return tuple(out)

    def oracle_snapshots(self) -> dict:
        out = {}
        for (name, _), df in zip(SNAPSHOTS, (self.mi, self.sa, self.rd)):
            t = df.toArrow().to_pydict()
            out[name] = list(zip(*t.values()))
        return out
