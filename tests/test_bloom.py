"""Distributed Bloom filter for mention-link decisions (engine/bloom.py):
no false negatives ever, measured FPP within bound, and the flagship pipeline
run without explicit keys (the Bloom default path) matches the pure oracle
exactly — i.e. removing the driver-side collect changed nothing."""

import inspect

from pyspark.sql import functions as F

from list_extractor_spark.engine.bloom import BloomSet, build_bloom
from list_extractor_spark.engine.pipeline import Pipeline, run_pipeline
from list_extractor_spark.engine.schemas import DOCUMENTS_SCHEMA
from list_extractor_spark.fixtures import corpus_to_rows, make_corpus, make_snapshots
from list_extractor_spark.fixtures.oracle import oracle_triples


def _keys_df(spark, keys):
    return spark.createDataFrame(
        [(lang, s) for (lang, s) in keys], schema="lang string, surface string"
    )


def test_no_false_negatives(spark):
    keys = {("en", f"{{{{Ref {i}}}}}") for i in range(500)} | {("de", "{{Umlaut ä}}")}
    bloom = build_bloom(_keys_df(spark, keys))
    assert all(k in bloom for k in keys)


def test_fpp_within_bound(spark):
    keys = {("en", f"surface {i}") for i in range(1000)}
    bloom = build_bloom(_keys_df(spark, keys), fpp=1e-3)
    probes = [("en", f"absent {i}") for i in range(20000)]
    fp = sum(1 for p in probes if p in bloom)
    assert fp / len(probes) < 1e-2  # order of magnitude headroom over 1e-3


def test_empty_index(spark):
    bloom = build_bloom(_keys_df(spark, set()))
    assert ("en", "anything") not in bloom


def test_build_is_distributed_not_collected(spark):
    """The bitmap from a 16-partition build equals the 1-partition build
    (OR-reduction is order/partitioning independent), and Pipeline.run no
    longer collects mention_index rows to the driver."""
    keys = {("en", f"s{i}") for i in range(256)}
    b1 = build_bloom(_keys_df(spark, keys).repartition(1))
    b16 = build_bloom(_keys_df(spark, keys).repartition(16))
    assert b1.bits == b16.bits and b1.k == b16.k
    assert ".collect()" not in inspect.getsource(Pipeline.run)


def test_pipeline_bloom_path_matches_oracle_exactly(spark):
    corpus = make_corpus(36, hub_every=24, hub_items=60)
    snapshots = make_snapshots()
    docs = spark.createDataFrame(corpus_to_rows(corpus), schema=DOCUMENTS_SCHEMA)
    got = {
        (r["subj"], r["pred"], r["obj"], r["obj_dt"])
        for r in run_pipeline(spark, docs, snapshots).collect()
    }
    want = oracle_triples(corpus, snapshots)
    assert got == want
    assert not any(s.startswith("urn:mention:") for (s, _, _, _) in got)


def test_false_positive_degrades_to_minted_fallback(spark):
    """A deferred mention the index cannot resolve (forced here by passing a
    superset key set) must emit the minted fallback IRI, not a sentinel."""
    from list_extractor_spark.engine.extract import extract_candidates_arrow
    from list_extractor_spark.engine.linking import resolve_links
    from list_extractor_spark.engine.pipeline import snapshots_to_dfs

    corpus = make_corpus(12, hub_every=0)
    snapshots = make_snapshots()
    docs = spark.createDataFrame(corpus_to_rows(corpus), schema=DOCUMENTS_SCHEMA)
    # force-defer surfaces the index does NOT have (simulated false positives)
    keys = {(lang, s) for (lang, s, _w, _r) in snapshots["mention_index"]}
    fake_fp_keys = keys | {("en", f"{{{{Ref {w} {n}}}}}") for w in ["Silver", "Night", "Iron"]
                           for n in ["Road", "Garden", "Mirror", "Empire"]}
    cand = extract_candidates_arrow(docs, linkable_keys=fake_fp_keys)
    mention_index, sameas, _ = snapshots_to_dfs(spark, snapshots)
    out = resolve_links(cand, mention_index, sameas)
    subs = [r["subj"] for r in out.select("subj").collect()]
    assert subs and not any(s.startswith("urn:mention:") for s in subs)
    # at least one forced miss actually exercised the fallback
    n_deferred = cand.filter(F.col("link_surface").isNotNull()).count()
    n_linked = out.filter(
        F.col("subj").startswith("http://www.wikidata.org/")
        | F.col("subj").startswith("http://dbpedia.org/resource/Ref_")
    ).count()
    assert n_deferred >= n_linked


def test_two_level_reduce_matches_single_path_many_partitions(spark):
    """The sqrt(P) intermediate OR level must produce a bit-identical bitmap
    to the small-P single-task path (OR is associative/commutative), and the
    two-level plan must engage on a many-partition input."""
    keys = {("en", f"k{i}") for i in range(2000)}
    wide = build_bloom(_keys_df(spark, keys).repartition(256))
    narrow = build_bloom(_keys_df(spark, keys).repartition(2))
    assert (wide.k, wide.m_bits) == (narrow.k, narrow.m_bits)
    assert wide.bits == narrow.bits
    assert all(k in wide for k in list(keys)[:50])
