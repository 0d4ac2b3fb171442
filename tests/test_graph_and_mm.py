"""Graph materialization, multimodal plumbing, and the full
pages -> canonical-graph integration path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jerex_spark.caching import release_persisted
from jerex_spark.canonicalize import canonicalize_entities
from jerex_spark.corpus import make_pages
from jerex_spark.extract import extract_graph
from jerex_spark.graph import (canonical_entity_table, canonical_triples,
                               edges, entity_phrases)
from jerex_spark.multimodal import media_features
from jerex_spark.pipeline import kg_tables


@pytest.fixture(scope="module")
def pages_graph(spark):
    pdf = make_pages(120)[["url", "text"]].rename(
        columns={"url": "doc_key"})
    g = extract_graph(spark.createDataFrame(pdf)).persist()
    g.count()
    yield g
    g.unpersist()


def test_end_to_end_canonical_graph(spark, pages_graph):
    t = kg_tables(pages_graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    alias = spark.createDataFrame(
        [("acme corp", "Q_ACME"), ("globex", "Q_GLOBEX"),
         ("alice rivera", "Q_ALICE"), ("springfield", "Q_SPR")],
        ["alias", "canonical_id"])
    canon = canonicalize_entities(ents, alias)
    assert canon.filter(F.col("canonical_id").isNull()).count() == 0

    ct = canonical_triples(t["triples"], canon)
    n_raw = t["triples"].count()
    n_canon = ct.count()
    assert 0 < n_canon <= n_raw
    # dedup really merges: key is unique
    assert ct.groupBy("subj_id", "rel_type", "obj_id").count() \
        .filter("count > 1").count() == 0

    et = canonical_entity_table(canon)
    assert et.groupBy("canonical_id").count().filter("count > 1") \
        .count() == 0

    ed = edges(ct)
    assert ed.count() <= n_canon
    assert ed.filter(F.col("weight") < 1).count() == 0


def test_alias_hits_collapse_across_docs(spark, pages_graph):
    t = kg_tables(pages_graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    alias = spark.createDataFrame([("acme corp", "Q_ACME")],
                                  ["alias", "canonical_id"])
    canon = canonicalize_entities(ents, alias)
    hits = canon.filter(F.col("canonical_id") == "Q_ACME")
    if hits.count() >= 2:   # corpus plants acme in many docs
        assert hits.select("doc_key").distinct().count() >= 2


def test_canonicalize_evaluates_once_for_all_consumers(spark, pages_graph):
    """canonicalize_entities returns a tracked persisted frame: after the
    first graph build materializes it, the next build reads the cache
    and never re-runs the alias/LSH/verify plan behind it."""
    t = kg_tables(pages_graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    alias_rows = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(a):
        alias_rows.add(1)
        return a

    alias = spark.createDataFrame(
        [("acme corp", "Q_ACME"), ("globex", "Q_GLOBEX")],
        ["alias", "canonical_id"]).select(counted("alias").alias("alias"),
                                          "canonical_id")
    canon = canonicalize_entities(ents, alias)
    assert canonical_triples(t["triples"], canon).count() > 0
    first = alias_rows.value
    assert first > 0
    assert canonical_entity_table(canon).count() > 0
    assert alias_rows.value == first
    assert canon.is_cached
    release_persisted()
    assert not canon.is_cached


def test_media_features_plumbing(spark):
    rows = [("d1", 0, "image", bytearray(b"\x89PNG fake bytes")),
            ("d1", 1, "image", bytearray(b"other payload")),
            ("d2", 0, "audio", bytearray(b"RIFF fake"))]
    media = spark.createDataFrame(
        rows, "doc_key string, media_idx int, kind string, payload binary")
    out = media_features(media).collect()
    assert len(out) == 3
    by_key = {(r.doc_key, r.media_idx): r for r in out}
    r = by_key[("d1", 0)]
    assert r.n_bytes == 15 and len(r.embedding) == 16
    assert r.width > 0 and r.height > 0
    # determinism: same payload -> same features on re-run
    out2 = media_features(media).collect()
    assert {(r.doc_key, r.media_idx, r.content_crc, tuple(r.embedding))
            for r in out} == \
           {(r.doc_key, r.media_idx, r.content_crc, tuple(r.embedding))
            for r in out2}


def test_media_empty_payload_raises_cleanly(spark):
    media = spark.createDataFrame(
        [("d", 0, "image", bytearray(b""))],
        "doc_key string, media_idx int, kind string, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        media_features(media).collect()


def test_examples_html_sink(spark, pages_graph, tmp_path):
    from jerex_spark.graph import export_examples_html
    out = str(tmp_path / "examples.html")
    export_examples_html(pages_graph, out, limit=5)
    html = open(out).read()
    assert html.startswith("<html>") and "-[" in html and "<b>" in html


def test_examples_html_tp_fp_fn_marking(spark, pages_graph, tmp_path):
    """S8 parity with the reference template semantics: items render
    color-coded TP/FP/FN against gold eval identities
    (ref joint_evaluator.py:185-207)."""
    from jerex_spark.graph import export_examples_html
    rows = (pages_graph.filter(F.size("triples") > 0)
            .select("doc_key", "mentions", "entities", "triples")
            .limit(3).collect())
    assert rows
    # gold = the predictions themselves (all TP) plus one planted FN
    gold = {}
    for r in rows:
        ments = {m.mention_idx: m for m in r.mentions}
        ekey = {e.entity_idx: tuple(sorted(
            (ments[i].start, ments[i].end) for i in e.mention_idxs))
            for e in r.entities}
        etype = {e.entity_idx: e.type for e in r.entities}
        gold[r.doc_key] = {
            "mentions": {(m.start, m.end) for m in r.mentions},
            "entities": {(ekey[e.entity_idx], e.type) for e in r.entities},
            "triples": {(ekey[t.head_idx], etype[t.head_idx],
                         ekey[t.tail_idx], etype[t.tail_idx], t.rel_type)
                        for t in r.triples},
        }
    planted = next(iter(gold))
    gold[planted]["mentions"].add((990, 991))
    out = str(tmp_path / "examples_marked.html")
    export_examples_html(pages_graph, out, limit=3, gold=gold)
    html = open(out).read()
    assert "[TP]" in html and "[FN] (990,991)" in html
    assert "[FP]" not in html          # predictions == gold otherwise


def test_canonical_entity_table_hot_key(spark):
    """Country-scale hot key: one canonical id covering most of the
    corpus must aggregate with bounded per-reducer state — exact
    n_docs via two-level count-distinct, surfaces capped."""
    from jerex_spark.graph import canonical_entity_table
    n = 20000
    rows = [(f"d{i}", 0, "QHOT" if i % 20 else f"Q{i}", "LOC",
             f"surface_{i % 500}") for i in range(n)]
    canon = spark.createDataFrame(
        rows, ["doc_key", "entity_idx", "canonical_id", "type", "phrase"])
    et = canonical_entity_table(canon, max_surfaces=50)
    hot = et.filter(F.col("canonical_id") == "QHOT").collect()[0]
    assert hot.n_docs == n - n // 20     # exact distinct docs
    assert hot.n_clusters == n - n // 20
    assert len(hot.surfaces) == 50       # capped, not 475
    assert hot.surfaces == sorted(hot.surfaces)


def test_salted_two_phase_agg_matches_direct(spark):
    from jerex_spark.graph import salted_two_phase
    # hot key: 90% of rows share one canonical id
    rows = [("QHOT" if i % 10 != 9 else f"Q{i}", f"d{i % 50}",
             float(i % 7)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "doc", "v"])
    got = {(r.k, r.n, round(r.s, 4), r.nd) for r in salted_two_phase(
        df, keys=["k"],
        partials=[F.count("*").alias("_n"), F.sum("v").alias("_s"),
                  F.collect_set("doc").alias("_d")],
        finals=[F.sum("_n").alias("n"), F.round(F.sum("_s"), 4).alias("s"),
                F.size(F.array_distinct(F.flatten(F.collect_list("_d"))))
                .alias("nd")]).collect()}
    want = {(r.k, r.n, round(r.s, 4), r.nd) for r in
            df.groupBy("k").agg(
                F.count("*").alias("n"), F.round(F.sum("v"), 4).alias("s"),
                F.countDistinct("doc").alias("nd")).collect()}
    assert got == want
