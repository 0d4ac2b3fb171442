"""The benchmark's workloads: inputs, one pass, and correctness checks.

A workload object is built from a seed and a size, writes its inputs
under a work directory, computes its reference results once (outside
any timing), runs passes through the program's public functions, and
checks each pass's output.  A pass takes a ``step`` callable through
which every layer call goes: the untraced run passes calls straight
through, the traced run (run.py) puts each call under a job group and
cuts the pipeline there.
"""

from __future__ import annotations

import math
import multiprocessing as mp
import os
from collections import Counter

import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from kgbench import gen


def plain_step(_layer: str, fn, *args):
    return fn(*args)


# a DataType, not a DDL string: parsing "string" needs a live session
@F.pandas_udf(StringType())
def extract_text_udf(s: pd.Series) -> pd.Series:
    from jerex_spark.corpus import extract_text_series
    return extract_text_series(s)


def _ref_doc(doc: tuple[str, str]) -> list[str]:
    from jerex_spark.reference_executor import run_document
    return [t["rel_type"] for t in run_document(*doc).triples]


class BulkCrawl:
    """Pages -> written canonical graph, through ``scripts/run_pipeline.py``'s
    call sequence (without ``--checkpoint``).  Item = page; one pass is
    one checked operation."""

    name = "bulk_crawl"
    ops_per_pass = 1
    SIZES = {"full": {"pages": 600, "alias": 20000},
             "tiny": {"pages": 40, "alias": 200}}

    def __init__(self, seed: int, size: str, work: str):
        s = self.SIZES[size]
        self.pages = gen.make_pages(seed, s["pages"])
        self.alias = gen.make_alias(seed, s["alias"])
        self.items = len(self.pages)
        self.fingerprint = gen.fingerprint({"pages": self.pages,
                                            "alias": self.alias})
        self.inputs = {"pages": f"{work}/pages.parquet",
                       "alias": f"{work}/alias.parquet"}
        gen.write_parquet(self.pages, self.inputs["pages"])
        gen.write_parquet(self.alias, self.inputs["alias"])
        self.ref_counts: Counter | None = None

    def kernel_docs(self) -> list[tuple[str, str]]:
        """(url, text) the extract sees: the page text, or
        ``corpus.extract_text(html)`` for html-only pages."""
        from jerex_spark.corpus import extract_text
        return [(u, t if t is not None else extract_text(h))
                for u, t, h in zip(self.pages.url, self.pages.text,
                                   self.pages.html)]

    def compute_reference(self, procs: int) -> None:
        """Per-rel_type triple counts from ``reference_executor`` over
        every page, in a spawn pool of ``procs`` processes."""
        docs = self.kernel_docs()
        with mp.get_context("spawn").Pool(procs) as pool:
            rels = pool.map(_ref_doc, docs, chunksize=8)
            pool.close()
            pool.join()
        self.ref_counts = Counter(r for doc in rels for r in doc)

    def run_pass(self, spark, out_dir: str, step=plain_step) -> None:
        from jerex_spark.caching import release_persisted
        from jerex_spark.canonicalize import canonicalize_entities
        from jerex_spark.extract import extract_graph
        from jerex_spark.graph import (canonical_entity_table,
                                       canonical_triples, edges,
                                       entity_phrases, write_graph)
        from jerex_spark.pipeline import kg_tables, salted_repartition
        from jerex_spark.sources import read_table
        # layers are named by module, except that write_graph counts as
        # sources: its inputs are already cut, so what it runs is
        # sources.write_table's repartition and parquet writes
        pages = step("sources", read_table, spark, self.inputs["pages"])
        docs = step("corpus", lambda: pages.select(
            F.col("url").alias("doc_key"),
            F.coalesce("text", extract_text_udf("html")).alias("text"),
            "lang"))
        docs = step("pipeline", salted_repartition, docs)
        graph = step("extract", extract_graph, docs).persist()
        t = step("pipeline", kg_tables, graph)
        ents = step("graph", entity_phrases, t["mentions"], t["entities"])
        alias = step("sources", read_table, spark, self.inputs["alias"])
        canon = step("canonicalize", canonicalize_entities, ents, alias)
        ct = step("graph", canonical_triples, t["triples"], canon).persist()
        ce = step("graph", canonical_entity_table, canon)
        ed = step("graph", edges, ct)
        step("sources", write_graph, out_dir, ct, ce, ed)
        ct.count()
        # run_pipeline.py persists both and never releases them
        graph.unpersist()
        ct.unpersist()
        release_persisted()

    @staticmethod
    def count_layer(layer: str, out) -> dict[str, int]:
        """Ratio counts read off a cut layer output: spans, mentions and
        capped docs from the extract's doc graph; the match-kind mix
        from canonicalize's output."""
        if layer == "extract":
            r = out.agg(
                F.sum("n_spans"), F.sum(F.size("mentions")),
                F.sum((F.col("truncated.spans") | F.col("truncated.mentions")
                       | F.col("truncated.pairs")).cast("int"))).first()
            return {"extract.spans": r[0] or 0, "extract.mentions": r[1] or 0,
                    "extract.truncated_docs": r[2] or 0}
        if layer == "canonicalize":
            kinds = dict(out.groupBy("match_kind").count().collect())
            return {f"canonicalize.match_{k}": kinds.get(k, 0)
                    for k in ("exact", "lsh", "self")}
        return {}

    def check_once(self, spark) -> tuple[int, list[str]]:
        """One operation, once per run: the corpus layer's text for
        every page equals the page text, or ``corpus.extract_text(html)``
        for html-only pages."""
        from jerex_spark.sources import read_table
        got = dict(read_table(spark, self.inputs["pages"]).select(
            "url", F.coalesce("text", extract_text_udf("html"))).collect())
        bad = [u for u, t in self.kernel_docs() if got.get(u) != t]
        return 1, [f"text differs for {len(bad)} pages, e.g. {bad[:3]}"] \
            if bad else []

    def check_output(self, out_dir: str) -> list[str]:
        """Written triples' n_evidence per rel_type equals the reference
        triple counts; every subj_id/obj_id is a written entity."""
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW triples AS SELECT * FROM read_parquet("
                f"'{out_dir}/triples/*/*.parquet', hive_partitioning=true)")
            con.execute("CREATE VIEW entities AS SELECT * FROM "
                        f"read_parquet('{out_dir}/entities/*.parquet')")
            got = dict(con.execute(
                "SELECT rel_type, SUM(n_evidence)::BIGINT FROM triples "
                "GROUP BY rel_type").fetchall())
            dangling = con.execute(
                "SELECT COUNT(*) FROM triples t WHERE NOT EXISTS "
                "(SELECT 1 FROM entities e WHERE e.canonical_id = t.subj_id)"
                " OR NOT EXISTS (SELECT 1 FROM entities e "
                "WHERE e.canonical_id = t.obj_id)").fetchone()[0]
        finally:
            con.close()
        errors = []
        if got != dict(self.ref_counts):
            errors.append(f"n_evidence per rel_type {got} != reference "
                          f"{dict(self.ref_counts)}")
        if dangling:
            errors.append(f"{dangling} triples name an unwritten entity")
        return ["; ".join(errors)] if errors else []


DEDUP_QUERIES = ("dedup_exact", "minhash_lsh_pairs", "ngram_jaccard",
                 "dedup_lsh_verified", "dedup_components", "corpus_curation",
                 "canon_gazetteer")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def rowset(rows, cols) -> tuple[list[str], list[tuple]]:
    """Column names sorted, rows reordered to match, floats rounded to
    6 places, rows sorted: the order-insensitive compare form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


class DedupFamily:
    """The seven dedup-family registry queries over one generated
    ``documents`` table.  Item = document per pass; each query is one
    checked operation."""

    name = "dedup_family"
    ops_per_pass = len(DEDUP_QUERIES)
    SIZES = {"full": {"docs": 1000}, "tiny": {"docs": 120}}

    def __init__(self, seed: int, size: str, work: str):
        s = self.SIZES[size]
        self.docs = gen.make_documents(seed, s["docs"])
        self.items = len(self.docs)
        self.fingerprint = gen.fingerprint({"documents": self.docs})
        self.sf_dir = f"{work}/sf"
        os.makedirs(self.sf_dir)
        gen.write_parquet(self.docs, f"{self.sf_dir}/documents.parquet")
        self.expected: dict[str, tuple] = {}
        self.results: dict[str, tuple] = {}

    def compute_reference(self, _procs: int) -> None:
        """Each query's ``oracle_sql()`` text run in DuckDB."""
        from jerex_spark.operators import all_queries
        qs = all_queries()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.sf_dir}/documents.parquet'")
            for q in DEDUP_QUERIES:
                res = con.execute(qs[q][1])
                self.expected[q] = rowset(
                    res.fetchall(), [c[0] for c in res.description])
        finally:
            con.close()

    def run_pass(self, spark, _out_dir: str, step=plain_step) -> None:
        from jerex_spark.caching import release_persisted
        from jerex_spark.operators import all_queries
        qs = all_queries()
        for q in DEDUP_QUERIES:
            cols = []

            def run(fn=qs[q][0], cols=cols):
                df = fn(spark, self.sf_dir)
                cols.extend(df.columns)
                return df.collect()
            rows = step(f"operators.{q}", run)
            release_persisted()
            self.results[q] = (rows, cols)

    def kernel_docs(self) -> list[tuple[str, str]]:
        return []       # the dedup queries run no extract kernel

    def check_once(self, _spark) -> tuple[int, list[str]]:
        return 0, []

    @staticmethod
    def count_layer(layer: str, out) -> dict[str, int]:
        """LSH candidate pairs and verified pairs, for the verify ratio."""
        name = {"operators.minhash_lsh_pairs": "operators.dedup.candidates",
                "operators.dedup_lsh_verified": "operators.dedup.verified"}
        return {name[layer]: len(out)} if layer in name else {}

    def check_output(self, _out_dir: str) -> list[str]:
        """Each query's rows, order-insensitive, equal its oracle's."""
        errors = []
        for q in DEDUP_QUERIES:
            (gc, gr), (ec, er) = rowset(*self.results.pop(q)), \
                self.expected[q]
            if gc != ec:
                errors.append(f"{q}: columns {gc} != oracle {ec}")
            elif gr != er:
                errors.append(f"{q}: {len(gr)} rows differ from the "
                              f"oracle's {len(er)}")
        return errors


WORKLOADS = {w.name: w for w in (BulkCrawl, DedupFamily)}
