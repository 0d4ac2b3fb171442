"""Corpus generation determinism, html->text byte identity, entity
canonicalization (broadcast + LSH + verify), and multimodal plumbing.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jerex_spark.canonicalize import (_char_shingles, canonicalize_entities,
                                      minhash_sigs)
from jerex_spark.corpus import extract_text, make_page, make_pages


def test_pages_deterministic():
    a, b = make_page(7), make_page(7)
    assert a == b
    df = make_pages(20)
    assert set(df.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert df.url.nunique() == 20


def test_extract_text_byte_identical():
    """per-url invariant: extractor(html) == text, byte for byte."""
    for i in range(50):
        p = make_page(i)
        assert extract_text(p["html"]) == p["text"], p["url"]


def test_extract_text_spark_side_identical(spark):
    """The pandas-UDF extraction must equal the stored text per url."""
    pdf = make_pages(40)
    sdf = spark.createDataFrame(pdf[["url", "html", "text"]])

    @F.pandas_udf("string")
    def extract_udf(s: pd.Series) -> pd.Series:
        from jerex_spark.corpus import extract_text_series
        return extract_text_series(s)

    bad = (sdf.withColumn("extracted", extract_udf("html"))
           .filter(F.col("extracted") != F.col("text")).count())
    assert bad == 0


def test_hot_host_exists():
    df = make_pages(300)
    hosts = df.url.str.extract(r"https://([^/]+)/")[0]
    counts = hosts.value_counts()
    assert counts.get("hot.example.io", 0) >= 40   # planted skew axis


@pytest.fixture()
def alias_df(spark):
    return spark.createDataFrame(
        [("acme corp", "Q1"), ("acme corporation", "Q1"),
         ("globex", "Q2"), ("alice rivera", "Q3")],
        ["alias", "canonical_id"])


def test_canonicalize_exact_lsh_self(spark, alias_df):
    ents = spark.createDataFrame(
        [("d1", 0, "Acme Corp"),        # exact (case/space normalize)
         ("d1", 1, "acme korp"),        # fuzzy -> LSH + levenshtein
         ("d2", 0, "globex"),           # exact
         ("d2", 1, "zzz unknown thing")],   # self-canonical
        ["doc_key", "entity_idx", "phrase"])
    out = canonicalize_entities(ents, alias_df).collect()
    got = {(r.doc_key, r.entity_idx): (r.canonical_id, r.match_kind)
           for r in out}
    assert got[("d1", 0)] == ("Q1", "exact")
    assert got[("d1", 1)] == ("Q1", "lsh")
    assert got[("d2", 0)] == ("Q2", "exact")
    cid, kind = got[("d2", 1)]
    assert kind == "self" and cid.startswith("self:")
    assert len(out) == 4   # no row duplication through the union


def test_canonicalize_deterministic_best(spark):
    # two aliases at equal edit distance: lowest canonical_id wins
    alias = spark.createDataFrame(
        [("abcdef", "Q9"), ("abcdeg", "Q1")], ["alias", "canonical_id"])
    ents = spark.createDataFrame(
        [("d", 0, "abcdeh")], ["doc_key", "entity_idx", "phrase"])
    rows = canonicalize_entities(ents, alias).collect()
    assert rows[0].canonical_id == "Q1"


def test_minhash_sigs_keyword_column_names(spark):
    """The shared signature builder quotes the column names it puts
    into SQL expression strings: shingle-array, id and text columns
    named after SQL keywords still resolve, and each signature is the
    min over the distinct shingles of md5(hash_id || '|' || shingle)."""
    df = spark.createDataFrame([(1, "acme"), (2, "globex")],
                               ["from", "select"])
    sharr = df.select("from", F.array_distinct(_char_shingles("select"))
                      .alias("order"))
    got = {(r["from"], r.hash_id): r.sig
           for r in minhash_sigs(sharr, "order", ["from"], 3).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    want = {(k, i): min(md5(f"{i}|{t[j:j + 3]}")
                        for j in range(max(len(t) - 2, 1)))
            for k, t in [(1, "acme"), (2, "globex")] for i in range(3)}
    assert got == want
