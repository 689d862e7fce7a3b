"""Console entrypoints matching the reference's user surfaces.

The reference ships console scripts (setup.py:106-114): ``bbs_database``
(corpus pipeline — here ``tools/run_pipeline.py``), ``compute_embeddings``,
and the mining/search servers. This CLI maps the remaining three onto the
engine, so a reference user has a command for every workflow:

    python tools/cli.py mine   --text "Glucose rises in Diabetes."
    python tools/cli.py embed  --input sentences.parquet --output emb.parquet
    python tools/cli.py search --input emb.parquet --query "insulin" -k 5 \
        [--deprioritize "mouse" --strength Mild]

``mine`` prints the SPECS rows as CSV (the mining server's response
format, server/mining_server.py:337-360); ``search`` prints the hydrated
top-k as CSV.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_mine = sub.add_parser("mine", help="mine ad-hoc texts to SPECS rows")
    p_mine.add_argument("--text", action="append", required=True)

    p_db = sub.add_parser(
        "mine-db",
        help="read mined rows back from a snapshot table "
             "(POST /database analogue: mining_server.py:141-231 — "
             "filter by entity types / urls, mining-cache ordering)",
    )
    p_db.add_argument("--snapshot", required=True, help="snapshot table root")
    p_db.add_argument("--etypes", default=None,
                      help="comma-separated entity types (default: all)")
    p_db.add_argument("--urls", default=None,
                      help="comma-separated urls (default: all)")
    p_db.add_argument("--limit", type=int, default=100)

    p_topic = sub.add_parser(
        "topic-filter",
        help="accept/reject articles by topic rules "
             "(TopicFilterTask analogue: topic_filter.py:116-160 → "
             "filtering.csv with an accept column)",
    )
    p_topic.add_argument("--input", required=True,
                         help="parquet with source + topic-list columns")
    p_topic.add_argument("--accept", action="append", default=[],
                         help="rule 'level:source:pattern' ('' = wildcard)")
    p_topic.add_argument("--reject", action="append", default=[])
    p_topic.add_argument("--article-topics-col", default="article_topics")
    p_topic.add_argument("--journal-topics-col", default="journal_topics")

    p_tex = sub.add_parser(
        "topic-extract",
        help="extract article topics from a PubMed-XML column "
             "(topic.py:464-487; journal topics via a local catalog "
             "parquet instead of the reference's NLM HTTP lookup)",
    )
    p_tex.add_argument("--input", required=True,
                       help="parquet with url + xml columns")
    p_tex.add_argument("--xml-col", default="html")
    p_tex.add_argument("--catalog", default=None,
                       help="optional parquet (medline_ta, journal_topics)")

    p_embed = sub.add_parser("embed", help="embed a sentence parquet table")
    p_embed.add_argument("--input", required=True)
    p_embed.add_argument("--output", required=True)
    p_embed.add_argument("--text-col", default="text")
    p_embed.add_argument("--dim", type=int, default=64)
    p_embed.add_argument("--model", default="hash", choices=["hash", "tfidf"],
                         help="EmbeddingModel implementation (hash-embed or "
                              "corpus-fitted TF-IDF)")

    p_tri = sub.add_parser(
        "triples",
        help="triple-pattern lookup over a snapshot KG "
             "(point query: bound url prunes to its hash bucket, bound "
             "terms push to the parquet reader)",
    )
    p_tri.add_argument("--snapshot", required=True, help="snapshot table root")
    p_tri.add_argument("--subj", default=None)
    p_tri.add_argument("--pred", default=None)
    p_tri.add_argument("--obj", default=None)
    p_tri.add_argument("--url", default=None)
    p_tri.add_argument("--limit", type=int, default=100)
    p_tri.add_argument("--as-of", type=int, default=None, dest="as_of",
                       help="time-travel: probe the KG as of this snapshot")

    p_compact = sub.add_parser(
        "compact",
        help="rewrite a snapshot table's small files (one file per "
             "bucket; content, history, and time travel preserved)",
    )
    p_compact.add_argument("--snapshot", required=True,
                           help="snapshot table root")
    p_compact.add_argument("--min-files-per-bucket", type=int, default=2)
    p_compact.add_argument(
        "--zorder-by",
        default=None,
        help="comma-separated columns to Z-order-cluster each rewritten "
             "file by (OPTIMIZE ZORDER analogue)",
    )

    p_exp = sub.add_parser(
        "expire",
        help="squash snapshot history older than the newest N snapshots",
    )
    p_exp.add_argument("--snapshot", required=True,
                       help="snapshot table root")
    p_exp.add_argument("--keep-last", type=int, default=5)
    p_exp.add_argument("--no-orphan-sweep", action="store_true",
                       help="skip the remove_orphan_files-style sweep")

    p_bm25 = sub.add_parser(
        "bm25",
        help="lexical BM25 top-k over a documents parquet "
             "(doc_id + text columns)",
    )
    p_bm25.add_argument("--input", required=True)
    p_bm25.add_argument("--query", required=True,
                        help="space-separated query terms")
    p_bm25.add_argument("-k", "--topk", type=int, default=10)
    p_bm25.add_argument("--id-col", default="doc_id")
    p_bm25.add_argument("--text-col", default="text")

    p_sketch = sub.add_parser(
        "sketch",
        help="sketch-based distinct-token estimates per group over a "
             "documents parquet (never COUNT(DISTINCT))",
    )
    p_sketch.add_argument("--input", required=True)
    p_sketch.add_argument("--group", default="source")
    p_sketch.add_argument("--text-col", default="text")

    p_export = sub.add_parser(
        "export",
        help="export a snapshot KG as N-Quads text (provenance as the "
             "graph term; lossless roundtrip via io/ntriples.py)",
    )
    p_export.add_argument("--snapshot", required=True,
                          help="snapshot table root")
    p_export.add_argument("--output", required=True)
    p_export.add_argument("--as-of", type=int, default=None, dest="as_of")
    p_export.add_argument("--format", choices=["nquads", "turtle"],
                          default="nquads",
                          help="nquads (lossless, provenance as graph "
                               "term) or turtle (subject blocks; "
                               "provenance dropped)")

    p_merge = sub.add_parser(
        "merge",
        help="entity-resolution merge: close sameAs links from "
             "inverse-functional predicates and materialize the "
             "consolidated KG (subj/obj rewritten to class "
             "representatives) into a new snapshot table",
    )
    p_merge.add_argument("--snapshot", required=True,
                         help="input snapshot table root")
    p_merge.add_argument("--output", required=True,
                         help="output snapshot table root (created)")
    p_merge.add_argument("--preds", required=True,
                         help="comma-separated inverse-functional "
                              "predicates, e.g. email,phone")
    p_merge.add_argument("--max-group", type=int, default=50,
                         dest="max_group",
                         help="blocking purge bound for hot shared values")
    p_merge.add_argument("--as-of", type=int, default=None, dest="as_of")

    p_graph = sub.add_parser(
        "graph",
        help="graph analytics over a snapshot KG's (subj, obj) edges",
    )
    p_graph.add_argument("--snapshot", required=True,
                         help="snapshot table root")
    p_graph.add_argument("--op", required=True,
                         choices=["degrees", "pagerank", "triangles",
                                  "two-hop", "hits", "link-predict",
                                  "walks", "closeness", "roles"])
    p_graph.add_argument("--n-iter", type=int, default=10)
    p_graph.add_argument("--limit", type=int, default=50)
    p_graph.add_argument("--n-walks", type=int, default=2,
                         help="walks per entity (op=walks)")
    p_graph.add_argument("--walk-len", type=int, default=4,
                         help="steps per walk (op=walks)")

    p_bgp = sub.add_parser(
        "bgp",
        help="SPARQL-style basic-graph-pattern query over a snapshot KG "
             "(patterns are 'term term term'; ?name terms are variables)",
    )
    p_bgp.add_argument("--snapshot", required=True, help="snapshot table root")
    p_bgp.add_argument("--pattern", action="append", required=True,
                       dest="patterns", metavar="'?s pred ?o'",
                       help="required triple pattern (repeatable)")
    p_bgp.add_argument("--optional", action="append", default=[],
                       dest="optionals", metavar="'?s pred ?o'",
                       help="OPTIONAL pattern: left join, NULL if unmatched")
    p_bgp.add_argument("--not-exists", action="append", default=[],
                       dest="not_exists", metavar="'?s pred ?o'",
                       help="FILTER NOT EXISTS pattern: drops matching rows")
    p_bgp.add_argument("--limit", type=int, default=100)
    p_bgp.add_argument("--as-of", type=int, default=None, dest="as_of")

    p_sparql = sub.add_parser(
        "sparql",
        help="run a SPARQL query string over a snapshot KG (SELECT / "
             "CONSTRUCT / ASK / DESCRIBE, plus the UPDATE forms INSERT "
             "DATA / DELETE DATA / DELETE WHERE / INSERT...WHERE / "
             "DELETE...INSERT...WHERE / CLEAR GRAPH which commit a new "
             "snapshot / copy-on-write delete; operators/sparql.py "
             "subset)",
    )
    p_sparql.add_argument("--snapshot", required=True,
                          help="snapshot table root")
    p_sparql.add_argument("--query", required=True,
                          help='e.g. \'SELECT ?s WHERE { ?s <is_a> '
                               '"CHEMICAL" . } LIMIT 10\'')
    p_sparql.add_argument("--limit", type=int, default=100,
                          help="row cap applied when the query has none")
    p_sparql.add_argument("--as-of", type=int, default=None, dest="as_of")
    p_sparql.add_argument("--explain", action="store_true",
                          help="print the formatted physical plan instead "
                               "of executing (SELECT/CONSTRUCT/DESCRIBE)")
    p_sparql.add_argument("--optimize", action="store_true",
                          help="selectivity-ordered BGP joins (one "
                               "predicate-count stats pass per query)")
    p_sparql.add_argument("--format",
                          choices=("csv", "json", "tsv", "xml", "nt",
                                   "ttl"),
                          default="csv",
                          help="result serialization: csv (default), "
                               "json/tsv/xml (W3C SPARQL 1.1 Results "
                               "formats), or nt/ttl (graph "
                               "serializations for CONSTRUCT/DESCRIBE-"
                               "shaped results)")

    p_val = sub.add_parser(
        "validate",
        help="SHACL-lite shape validation over a snapshot KG; prints the "
             "violation report CSV (empty = conforms, exit code 2 if not)",
    )
    p_val.add_argument("--snapshot", required=True, help="snapshot table root")
    p_val.add_argument("--shapes", required=True,
                       help="JSON file: list of shape objects "
                            '(e.g. [{"name": "d", "kind": "domain", '
                            '"pred": "is_a", "cls": "CHEMICAL"}])')
    p_val.add_argument("--limit", type=int, default=1000)
    p_val.add_argument("--as-of", type=int, default=None, dest="as_of")

    p_tok = sub.add_parser(
        "tokenizer",
        help="train BPE merges on a parquet text table / segment text",
    )
    p_tok.add_argument("--input", required=True,
                       help="parquet with a text column")
    p_tok.add_argument("--text-col", default="text")
    p_tok.add_argument("--merges", type=int, default=16)
    p_tok.add_argument("--segment", action="append", default=[],
                       help="after training, print the segmentation of "
                            "this text (repeatable)")

    p_kgt = sub.add_parser(
        "kgtrain",
        help="export a labeled KG-embedding training set (positives + "
             "filtered deterministic negatives) from a snapshot KG",
    )
    p_kgt.add_argument("--snapshot", required=True,
                       help="snapshot table root")
    p_kgt.add_argument("--output", required=True,
                       help="output parquet directory")
    p_kgt.add_argument("-k", type=int, default=4,
                       help="corrupted-tail negatives per true triple")
    p_kgt.add_argument("--mode", choices=["transe", "deepwalk"],
                       default="transe",
                       help="transe: labeled (subj, pred, obj) triples; "
                            "deepwalk: (center, context, n_pairs) "
                            "skip-gram pairs from random walks")
    p_kgt.add_argument("--n-walks", type=int, default=2)
    p_kgt.add_argument("--walk-len", type=int, default=4)
    p_kgt.add_argument("--window", type=int, default=2)

    p_search = sub.add_parser("search", help="semantic top-k search")
    p_search.add_argument("--input", required=True,
                          help="parquet with an embedding column")
    p_search.add_argument("--query", required=True)
    p_search.add_argument("-k", type=int, default=10)
    p_search.add_argument("--deprioritize", default=None)
    p_search.add_argument("--strength", default="Mild")
    p_search.add_argument("--id-cols", default="url,ppos,spos")

    p_crawl = sub.add_parser(
        "crawl",
        help="sitemaps (+ optional robots, capture table) -> polite "
        "fetch schedule CSV",
    )
    p_crawl.add_argument("--sitemaps", required=True,
                         help="parquet with (url, html) sitemap bodies")
    p_crawl.add_argument("--crawled", default=None,
                         help="parquet capture table (url, warc_ts)")
    p_crawl.add_argument("--robots", default=None,
                         help="parquet with (url, html) robots.txt bodies")
    p_crawl.add_argument("--delay", type=float, default=1.0)
    p_crawl.add_argument("--max-per-host", type=int, default=None)

    args = ap.parse_args()

    from search_spark import surfaces
    from search_spark.session import get_spark, local_df

    spark = get_spark(f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "mine":
        df = surfaces.mine_texts(spark, args.text)
        print(df.toPandas().to_csv(index=False), end="")
    elif args.cmd == "mine-db":
        from pyspark.sql import functions as F

        from search_spark.io.snapshots import SnapshotTable

        df = SnapshotTable(spark, args.snapshot).load()
        if df is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        if args.etypes:
            df = df.filter(
                F.col("entity_type").isin(*args.etypes.split(","))
            )
        if args.urls:
            df = df.filter(F.col("url").isin(*args.urls.split(",")))
        # mining-cache retrieval order (sql.py:327-329); prov embeds
        # "uid:section:ppos", so (url, prov, start_char) is the composite
        df = df.orderBy("url", "prov", "start_char").limit(args.limit)
        print(df.drop("bucket").toPandas().to_csv(index=False), end="")
    elif args.cmd == "triples":
        from search_spark.io.snapshots import SnapshotTable

        df = SnapshotTable(spark, args.snapshot).match_triples(
            subj=args.subj, pred=args.pred, obj=args.obj, url=args.url,
            as_of=args.as_of,
        )
        if df is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        df = df.orderBy("url", "prov", "subj", "pred", "obj").limit(
            args.limit
        )
        print(df.drop("bucket").toPandas().to_csv(index=False), end="")
    elif args.cmd == "crawl":
        from search_spark.operators.crawl import (
            politeness_schedule,
            robots_allowed,
            sitemap_frontier,
        )

        sitemaps = spark.read.parquet(args.sitemaps)
        if args.crawled:
            crawled = spark.read.parquet(args.crawled)
        else:
            crawled = local_df(spark, [], "url string, warc_ts timestamp")
        frontier = sitemap_frontier(sitemaps, crawled)
        if args.robots:
            robots = spark.read.parquet(args.robots)
            kept = robots_allowed(
                frontier.withColumnRenamed("loc", "url"), robots
            ).withColumnRenamed("url", "loc").drop("matched_prefix")
        else:
            kept = frontier
        out = politeness_schedule(
            kept, crawl_delay_s=args.delay, max_per_host=args.max_per_host
        )
        print(
            out.orderBy("host", "slot").toPandas().to_csv(index=False),
            end="",
        )
    elif args.cmd == "bm25":
        from search_spark.operators.ranking import bm25_topk

        docs = spark.read.parquet(args.input)
        out = bm25_topk(
            docs,
            args.query.split(),
            doc_id=args.id_col,
            text_col=args.text_col,
            topk=args.topk,
        )
        print(out.toPandas().to_csv(index=False), end="")
    elif args.cmd == "sketch":
        from pyspark.sql import functions as F

        from search_spark.operators.sketches import distinct_sketch

        docs = spark.read.parquet(args.input)
        toks = docs.select(
            F.col(args.group),
            F.explode(
                F.expr(
                    f"regexp_extract_all(lower({args.text_col}),"
                    " '[a-z0-9_]{2,}', 0)"
                )
            ).alias("term"),
        )
        out = distinct_sketch(toks, args.group, "term")
        print(
            out.orderBy(args.group).toPandas().to_csv(index=False), end=""
        )
    elif args.cmd == "merge":
        import json

        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators.blocking import ifp_candidates
        from search_spark.operators.canonicalize import (
            sameas_apply,
            sameas_components,
        )

        src = SnapshotTable(spark, args.snapshot)
        df = src.load(as_of=args.as_of)
        if df is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        df = df.drop("bucket", "snapshot")
        preds = [x for x in args.preds.split(",") if x]
        pairs = (
            ifp_candidates(
                df.select("subj", "pred", "obj"),
                preds,
                max_group=args.max_group,
            )
            .select("a", "b")
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_pairs = pairs.count()
        merged = sameas_apply(df, sameas_components(pairs))
        out = SnapshotTable(spark, args.output)
        info = out.append(merged, extra_metrics={
            "merge_preds": preds, "n_sameas_pairs": n_pairs,
        })
        print(json.dumps({
            "n_rows": info.n_rows, "n_sameas_pairs": n_pairs,
            "output": args.output, "snapshot_id": info.snapshot_id,
        }))
    elif args.cmd == "export":
        from search_spark.io.ntriples import write_ntriples
        from search_spark.io.snapshots import SnapshotTable

        df = SnapshotTable(spark, args.snapshot).load(as_of=args.as_of)
        if df is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        if args.format == "turtle":
            from search_spark.io.ntriples import write_turtle

            write_turtle(df.select("subj", "pred", "obj"), args.output)
            print(
                f"wrote {spark.read.text(args.output).count()} turtle "
                f"lines to {args.output}"
            )
        else:
            write_ntriples(
                df.select("subj", "pred", "obj", "prov"), args.output
            )
            print(f"wrote {spark.read.text(args.output).count()} quads "
                  f"to {args.output}")
    elif args.cmd == "expire":
        import json as _json

        from search_spark.io.snapshots import SnapshotTable

        stats = SnapshotTable(spark, args.snapshot).expire(
            keep_last=args.keep_last,
            sweep_orphans=not args.no_orphan_sweep,
        )
        print(_json.dumps(stats))
    elif args.cmd == "compact":
        import json

        from search_spark.io.snapshots import SnapshotTable

        stats = SnapshotTable(spark, args.snapshot).compact(
            min_files_per_bucket=args.min_files_per_bucket,
            zorder_by=(
                args.zorder_by.split(",") if args.zorder_by else None
            ),
        )
        print(json.dumps(stats))
    elif args.cmd == "graph":
        from pyspark.sql import functions as F

        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators import graph as G

        full = SnapshotTable(spark, args.snapshot).load()
        if full is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        edges = full.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        if args.op == "degrees":
            out = G.entity_degrees(edges).orderBy(
                F.desc("out_edges"), "entity"
            )
        elif args.op == "pagerank":
            out = G.pagerank(edges, n_iter=args.n_iter).orderBy(
                F.desc("rank"), "entity"
            )
        elif args.op == "triangles":
            out = G.triangle_counts(edges).orderBy(
                F.desc("n_triangles"), "entity"
            )
        elif args.op == "hits":
            out = G.hits(edges, n_iter=args.n_iter).orderBy(
                F.desc("authority"), "entity"
            )
        elif args.op == "link-predict":
            out = G.link_prediction(edges).orderBy(
                F.desc("aa_score"), "a", "b"
            )
        elif args.op == "walks":
            out = G.random_walks(
                edges, n_walks=args.n_walks, walk_len=args.walk_len
            ).orderBy("entity", "walk_no", "step")
        elif args.op == "closeness":
            out = G.landmark_closeness(
                edges, max_hops=min(args.n_iter, 8)
            ).orderBy(F.desc("harmonic"), "entity")
        elif args.op == "roles":
            out = G.wl_role_labels(edges, rounds=min(args.n_iter, 4)).orderBy(
                F.desc("class_size"), "role", "entity"
            )
        else:
            out = G.two_hop(edges).orderBy(
                F.desc("n_paths"), "src", "dst"
            )
        print(
            out.limit(args.limit).toPandas().to_csv(index=False), end=""
        )
    elif args.cmd == "bgp":
        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators.bgp import match_bgp

        full = SnapshotTable(spark, args.snapshot).load(as_of=args.as_of)
        if full is None:
            print("no committed snapshots", file=sys.stderr)
            return 1

        def parse(spec: str) -> tuple[str, str, str]:
            terms = spec.split()
            if len(terms) != 3:
                ap.error(f"pattern needs exactly 3 terms: {spec!r}")
            return tuple(terms)

        out = match_bgp(
            full,
            [parse(p) for p in args.patterns],
            optional=[parse(p) for p in args.optionals],
            not_exists=[parse(p) for p in args.not_exists],
        )
        out = out.orderBy(*out.columns).limit(args.limit)
        print(out.toPandas().to_csv(index=False), end="")
    elif args.cmd == "sparql":
        import json

        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators.sparql import sparql_query, sparql_update

        table = SnapshotTable(spark, args.snapshot)
        toks = args.query.split()
        i = 0  # route on the first token after any PREFIX declarations
        while i + 2 < len(toks) and toks[i].lower() == "prefix":
            i += 3
        head = toks[i].lower() if i < len(toks) else ""
        if head in ("insert", "delete", "clear", "drop", "add", "copy",
                    "move", "create", "load", "with"):  # UPDATE forms
            print(json.dumps(sparql_update(table, args.query)))
            return 0
        full = table.load(as_of=args.as_of)
        if full is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        if args.explain:
            if head == "ask":
                print("ASK executes eagerly (LocalLimit short-circuit); "
                      "nothing to explain", file=sys.stderr)
                return 1
            sparql_query(full, args.query,
                         optimize=args.optimize).explain("formatted")
            return 0
        result = sparql_query(full, args.query, optimize=args.optimize)
        if isinstance(result, bool):  # ASK
            if args.format == "json":
                print(json.dumps({"head": {}, "boolean": result}))
            elif args.format == "xml":
                from search_spark.operators.sparql import (
                    to_sparql_results_xml,
                )

                print(to_sparql_results_xml([], [], boolean=result),
                      end="")
            else:
                print("true" if result else "false")
            return 0
        result = result.limit(args.limit)
        if args.format in ("nt", "ttl"):
            if not {"subj", "pred", "obj"}.issubset(result.columns):
                print("--format nt/ttl needs a CONSTRUCT/DESCRIBE-shaped "
                      "result with subj/pred/obj columns", file=sys.stderr)
                return 1
            from search_spark.io.ntriples import (
                to_nquad_lines,
                to_turtle_blocks,
            )

            triples = result.select("subj", "pred", "obj")
            if args.format == "nt":
                lines = to_nquad_lines(triples, prov_col=None)
                for r in lines.collect():
                    print(r.line)
            else:
                for r in to_turtle_blocks(triples).orderBy(
                    "subj"
                ).collect():
                    print(r.block)
            return 0
        if args.format == "json":
            from search_spark.operators.sparql import to_sparql_results_json

            print(json.dumps(to_sparql_results_json(
                result.collect(), result.columns
            )))
        elif args.format == "tsv":
            from search_spark.operators.sparql import to_sparql_results_tsv

            print(to_sparql_results_tsv(
                result.collect(), result.columns
            ), end="")
        elif args.format == "xml":
            from search_spark.operators.sparql import to_sparql_results_xml

            print(to_sparql_results_xml(
                result.collect(), result.columns
            ), end="")
        else:
            print(result.toPandas().to_csv(index=False), end="")
    elif args.cmd == "validate":
        import json

        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators.shapes import Shape, validate_shapes

        full = SnapshotTable(spark, args.snapshot).load(as_of=args.as_of)
        if full is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        with open(args.shapes) as f:
            shapes = [Shape(**s) for s in json.load(f)]
        report = validate_shapes(full, shapes).orderBy(
            "shape", "node", "detail"
        ).limit(args.limit)
        rows = report.toPandas()
        print(rows.to_csv(index=False), end="")
        if len(rows):
            return 2
    elif args.cmd == "topic-filter":
        from pyspark.sql import functions as F

        from search_spark.operators.topics import (
            TopicRule,
            check_topic_rules_col,
        )

        def parse_rules(specs):
            out = []
            for spec in specs:
                level, source, pattern = (spec.split(":", 2) + ["", ""])[:3]
                out.append(
                    TopicRule(level or None, source or None, pattern or None)
                )
            return out

        table = spark.read.parquet(args.input)
        ok = check_topic_rules_col(
            parse_rules(args.accept),
            parse_rules(args.reject),
            F.col("source"),
            F.col(args.article_topics_col),
            F.col(args.journal_topics_col),
        )
        df = table.withColumn("accept", ok).select("url", "source", "accept") \
            if "url" in table.columns else table.withColumn("accept", ok)
        print(df.toPandas().to_csv(index=False), end="")
    elif args.cmd == "topic-extract":
        from pyspark.sql import functions as F

        from search_spark.extraction.topics import (
            attach_journal_topics,
            pubmed_topics_stage,
        )

        pages = spark.read.parquet(args.input)
        topics = pubmed_topics_stage(pages, xml_col=args.xml_col)
        cols = ["url", "article_topics", "medline_ta"]
        if args.catalog:
            topics = attach_journal_topics(
                topics, spark.read.parquet(args.catalog)
            )
            cols.append("journal_topics")
        out = topics.select(
            "url",
            F.array_join("article_topics", "|").alias("article_topics"),
            "medline_ta",
            *(
                [F.array_join("journal_topics", "|").alias("journal_topics")]
                if args.catalog
                else []
            ),
        )
        print(out.toPandas().to_csv(index=False), end="")
    elif args.cmd == "embed":
        sentences = spark.read.parquet(args.input)
        model = None
        if args.model == "tfidf":
            from search_spark.operators.tfidf import TfidfEmbeddingModel

            model = TfidfEmbeddingModel.fit(
                sentences, args.text_col, max_features=args.dim
            )
        surfaces.compute_embeddings(
            sentences, args.text_col, args.dim, model=model
        ).write.mode("overwrite").parquet(args.output)
        print(f"wrote {spark.read.parquet(args.output).count()} rows "
              f"to {args.output}")
    elif args.cmd == "kgtrain":
        import json as _json

        from pyspark.sql import functions as F

        from search_spark.io.snapshots import SnapshotTable
        from search_spark.operators.sampling import negative_samples

        full = SnapshotTable(spark, args.snapshot).load()
        if full is None:
            print("no committed snapshots", file=sys.stderr)
            return 1
        if args.mode == "deepwalk":
            from search_spark.operators.graph import random_walks

            edges = full.select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            w = random_walks(
                edges, n_walks=args.n_walks, walk_len=args.walk_len
            )
            a = w.select(
                "entity", "walk_no", F.col("step").alias("i"),
                F.col("node").alias("center"),
            )
            bpos = w.select(
                "entity", "walk_no", F.col("step").alias("j"),
                F.col("node").alias("context"),
            )
            pairs = (
                a.join(bpos, ["entity", "walk_no"])
                .filter(
                    (F.col("i") != F.col("j"))
                    & (F.abs(F.col("i") - F.col("j")) <= args.window)
                )
                .groupBy("center", "context")
                .agg(F.count(F.lit(1)).alias("n_pairs"))
            )
            pairs.write.mode("overwrite").parquet(args.output)
            back = spark.read.parquet(args.output)
            print(_json.dumps({
                "mode": "deepwalk",
                "n_pairs": back.count(),
                "n_centers": back.select("center").distinct().count(),
                "output": args.output,
            }))
            return 0
        pos = full.select("subj", "pred", "obj").distinct()
        neg = negative_samples(pos, k=args.k).select(
            "subj", "pred", F.col("obj_neg").alias("obj")
        )
        train = pos.withColumn("label", F.lit(1)).unionByName(
            neg.withColumn("label", F.lit(0))
        )
        train.write.mode("overwrite").parquet(args.output)
        back = spark.read.parquet(args.output)
        counts = {
            int(r["label"]): r["n"]
            for r in back.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(_json.dumps({
            "mode": "transe",
            "n_pos": counts.get(1, 0),
            "n_neg": counts.get(0, 0),
            "k": args.k,
            "output": args.output,
        }))
    elif args.cmd == "tokenizer":
        from pyspark.sql import functions as F

        from search_spark.operators.bpe import learn_bpe, segment_expr

        table = spark.read.parquet(args.input)
        words = (
            table.select(
                F.explode(F.split(F.col(args.text_col), " ")).alias("word")
            )
            .filter(F.length("word") > 0)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        merges = learn_bpe(words, args.merges)
        print("merge_rank,lhs,rhs,pair_count")
        for rank, lhs, rhs, cnt in merges:
            print(f"{rank},{lhs},{rhs},{cnt}")
        if args.segment:
            pairs = [(l, r) for _, l, r, _ in merges]
            toks = local_df(
                spark, [(t,) for t in args.segment], "text string"
            ).select(
                "text",
                F.flatten(
                    F.transform(
                        F.split("text", " "),
                        lambda w: segment_expr(w, pairs),
                    )
                ).alias("subwords"),
            )
            for r in toks.collect():
                print(f"{r['text']}\t{' '.join(r['subwords'])}")
    elif args.cmd == "search":
        table = spark.read.parquet(args.input)
        df = surfaces.search_sentences(
            table,
            args.query,
            k=args.k,
            deprioritize_text=args.deprioritize,
            strength=args.strength,
            id_cols=args.id_cols.split(","),
        )
        print(df.toPandas().to_csv(index=False), end="")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
