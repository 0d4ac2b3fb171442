"""Cluster entrypoint: spark-submit --py-files jerex_spark.zip \
scripts/run_pipeline.py --input <pages path> --output <graph dir> \
[--alias <alias parquet>] [--checkpoint <dir>]

Runs the full KG-construction pipeline over a pages table
(url, warc_ts, html, text, lang — BASELINE.json input_hint):

  pages -> extract_text (pandas UDF, byte-stable) -> salted
  repartition -> fused JEREX extract (mapInPandas) -> canonicalize
  (broadcast alias + MinHash-LSH) -> canonical triples/entities/edges
  -> partitioned parquet/Iceberg writes

With --checkpoint, the extract stage runs under per-partition lineage
manifests and resumes idempotently (jerex_spark.lineage).

Package for submission:  cd /root/repo && zip -r jerex_spark.zip jerex_spark
"""

from __future__ import annotations

import argparse

import pandas as pd
from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--alias", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from jerex_spark.caching import persist_tracked, release_persisted
    from jerex_spark.canonicalize import canonicalize_entities
    from jerex_spark.extract import extract_graph
    from jerex_spark.graph import (canonical_entity_table,
                                   canonical_triples, edges,
                                   entity_phrases, write_graph)
    from jerex_spark.lineage import CheckpointedStage
    from jerex_spark.pipeline import kg_tables, salted_repartition
    from jerex_spark.session import build_session

    from jerex_spark.sources import read_table

    spark = build_session(app="jerex-kg-pipeline", master=args.master)

    # --input/--output accept parquet paths or iceberg:<tbl> refs
    pages = read_table(spark, args.input)

    @F.pandas_udf("string")
    def extract_text_udf(s: pd.Series) -> pd.Series:
        from jerex_spark.corpus import extract_text_series
        return extract_text_series(s)

    docs = pages.select(
        F.col("url").alias("doc_key"),
        F.coalesce("text", extract_text_udf("html")).alias("text"),
        "lang")

    docs = salted_repartition(docs)
    if args.checkpoint:
        import json
        stage = CheckpointedStage("extract", args.checkpoint)
        stage.run(docs, lambda part: extract_graph(part))
        graph = stage.read_output(spark)
        print(json.dumps(stage.throughput_summary()))
    else:
        graph = extract_graph(docs)
    graph = persist_tracked(graph)

    t = kg_tables(graph)
    ents = entity_phrases(t["mentions"], t["entities"])
    if args.alias:
        alias = read_table(spark, args.alias)
    else:
        alias = spark.createDataFrame([], "alias string, canonical_id string")
    canon = canonicalize_entities(ents, alias)

    ct = persist_tracked(canonical_triples(t["triples"], canon))
    write_graph(args.output, ct, canonical_entity_table(canon), edges(ct))
    n = ct.count()
    print(f"wrote {n} canonical triples to {args.output}")
    release_persisted()
    spark.stop()


if __name__ == "__main__":
    main()
