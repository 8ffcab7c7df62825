"""CLI entry point — the spark-submit surface (north rule: "runs
end-to-end through spark-submit --py-files on multi-executor clusters").

Usage (local):
    python -m open_source_search_engine_spark build  --src <parquet> --index <dir>
    python -m open_source_search_engine_spark search --index <dir> -q "binary search" -k 10
    python -m open_source_search_engine_spark compact --index <dir>
    python -m open_source_search_engine_spark synth  --out <parquet> --n 20000

Cluster:
    zip -r engine.zip open_source_search_engine_spark
    spark-submit --py-files engine.zip run_engine.py build --src ... --index ...
    (run_engine.py: ``from open_source_search_engine_spark.__main__ import
    main; main()`` — when submitted through spark-submit the session
    already exists; get_spark() adopts it via getOrCreate.)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="open_source_search_engine_spark")
    p.add_argument("--cores", type=int, default=None, help="local[] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--src", required=True, help="documents parquet path")
    b.add_argument("--index", required=True, help="index root directory")
    b.add_argument("--shards", type=int, default=4)
    b.add_argument("--block-size", type=int, default=4096)
    b.add_argument("--salt-target", type=int, default=50_000)
    b.add_argument("--no-resume", action="store_true")

    s = sub.add_parser("search", help="BM25 top-k query")
    s.add_argument(
        "--index", required=True,
        help="index root; comma-separate several for federated "
        "multi-collection search (the &c=a+b SERP)",
    )
    s.add_argument("-q", "--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--engine", choices=["auto", "wand", "exhaustive"], default="auto")
    s.add_argument("--synonyms", action="store_true", help="X5 OR-group expansion")
    s.add_argument(
        "--boolean", action="store_true",
        help="treat -q as a nested boolean expression (parens/AND/OR/NOT)",
    )
    s.add_argument(
        "--lang-boost", default=None, metavar="LANG:FACTOR",
        help="F8 soft language preference, e.g. python:1.2",
    )
    s.add_argument(
        "--cache", action="store_true",
        help="serp result cache (Msg17 analog; invalidated by snapshot version)",
    )
    s.add_argument(
        "--explain", action="store_true",
        help="print the formatted physical plan instead of executing",
    )

    c = sub.add_parser("compact", help="merge segments, drop tombstones")
    c.add_argument("--index", required=True)
    c.add_argument(
        "--minor",
        action="store_true",
        help="tiered subset merge of delta segments only (no tombstone "
        "annihilation, stats untouched; keeps the K largest segments)",
    )
    c.add_argument("--keep-largest", type=int, default=2)

    st = sub.add_parser(
        "stats", help="index stats page (PageStats analog): segments, "
        "postings shape, density, tombstones"
    )
    st.add_argument("--index", required=True)

    g = sub.add_parser("synth", help="generate the synthetic corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--n", type=int, default=20_000)

    fs = sub.add_parser(
        "fsck",
        help="index consistency check: manifests, cross-table invariants; "
        "--deep decodes every block",
    )
    fs.add_argument("--index", required=True)
    fs.add_argument("--deep", action="store_true")

    vc = sub.add_parser(
        "vacuum",
        help="expire old manifest versions and the segments only they "
        "reach (Iceberg's snapshot expiry): bounds disk growth; as-of "
        "reads older than the retention fail afterwards",
    )
    vc.add_argument("--index", required=True)
    vc.add_argument("--keep-last", type=int, default=2)

    sg = sub.add_parser(
        "suggest", help="typeahead completion from the stored dictionary"
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--prefix", required=True)
    sg.add_argument("-k", type=int, default=10)

    nw = sub.add_parser(
        "suggest-next",
        help="next-word continuation from the stored bigram pair termlists",
    )
    nw.add_argument("--index", required=True)
    nw.add_argument("--word", required=True, help="the completed previous word")
    nw.add_argument("-k", type=int, default=10)

    an = sub.add_parser(
        "anchor", help="docs most-cited-with a token in inbound anchor text"
    )
    an.add_argument("--index", required=True)
    an.add_argument("--token", required=True)
    an.add_argument("-k", type=int, default=20)
    an.add_argument("--enrich", action="store_true")

    rx = sub.add_parser(
        "reindex",
        help="query reindex (PageReindex/Msg1c): harvest EVERY doc "
        "matching -q, then either tombstone the match set (--delete) or "
        "re-ingest its current --src rows as a delete-then-re-add diff",
    )
    rx.add_argument("--index", required=True)
    rx.add_argument("-q", "--query", required=True)
    rx.add_argument(
        "--delete", action="store_true",
        help="delete mode: tombstone every match (merge-on-read; "
        "annihilated at next compact)",
    )
    rx.add_argument(
        "--src", default=None,
        help="current corpus parquet (reindex mode; required unless --delete)",
    )
    rx.add_argument(
        "--match-any", action="store_true",
        help="match docs containing ANY query group instead of ALL",
    )

    vs = sub.add_parser(
        "versions",
        help="print the index's manifest version (capture BEFORE a "
        "mutation; pass it to `changes --from` later)",
    )
    vs.add_argument("--index", required=True)

    ch = sub.add_parser(
        "changes",
        help="changelog (Iceberg incremental read): docs added/removed "
        "between a captured manifest version and the head (or --to)",
    )
    ch.add_argument("--index", required=True)
    ch.add_argument(
        "--from", dest="version_from", type=int, required=True,
        help="manifest version from `versions` (-1: before the first commit)",
    )
    ch.add_argument(
        "--to", dest="version_to", type=int, default=None,
        help="optional end manifest version (default: the head)",
    )
    ch.add_argument("--limit", type=int, default=0)

    ml = sub.add_parser(
        "mlt", help="more-like-this: top-k docs similar to --doc-id"
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--src", required=True, help="corpus parquet (doc text)")
    ml.add_argument("--doc-id", type=int, required=True)
    ml.add_argument("-k", type=int, default=10)
    ml.add_argument("--terms", type=int, default=5)

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(cores=args.cores)

    if args.cmd == "synth":
        from .sources.corpus import synth_documents

        synth_documents(spark, args.n).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "n_docs": args.n}))
        return

    if args.cmd == "build":
        from .operators.build import build_index

        t0 = time.time()
        build_index(
            spark,
            spark.read.parquet(args.src),
            args.index,
            n_shards=args.shards,
            block_size=args.block_size,
            salt_target=args.salt_target,
            resume=not args.no_resume,
        )
        secs = time.time() - t0
        print(json.dumps({"index": args.index, "build_secs": round(secs, 1)}))
        return

    if args.cmd == "stats":
        from .operators.build import Index
        from .operators.stats import describe_index

        print(json.dumps(describe_index(spark, Index(args.index))))
        return

    if args.cmd == "fsck":
        from .operators.build import Index
        from .operators.stats import fsck_index

        report = fsck_index(spark, Index(args.index), deep=args.deep)
        print(json.dumps(report))
        sys.exit(0 if report["ok"] else 1)

    if args.cmd == "vacuum":
        from .operators.build import Index
        from .operators.timetravel import vacuum_index

        stats = vacuum_index(Index(args.index), keep_last=args.keep_last)
        print(json.dumps({"index": args.index, "expired": stats}))
        return

    if args.cmd == "versions":
        from .operators.build import Index
        from .operators.timetravel import index_versions

        print(json.dumps(index_versions(Index(args.index))))
        return

    if args.cmd == "changes":
        from .operators.build import Index
        from .operators.changelog import changelog_mode, index_changes
        from .operators.timetravel import index_versions

        idx = Index(args.index)
        vt = args.version_to if args.version_to is not None else index_versions(idx)
        mode = changelog_mode(idx, args.version_from, vt)
        out = index_changes(spark, idx, args.version_from, vt)
        if args.limit:
            out = out.limit(args.limit)
        rows = [json.loads(r) for r in out.toJSON().collect()]
        print(
            json.dumps(
                {"mode": mode, "n_changes": len(rows), "changes": rows}
            )
        )
        return

    if args.cmd == "suggest":
        from pyspark.sql import functions as F

        from .operators.build import Index

        ts = Index(args.index).termstats.read(spark)
        rows = (
            ts.filter(
                F.col("term").startswith(args.prefix)
                & ~F.col("term").contains(" ")
                & ~F.col("term").contains(":")
            )
            .orderBy(F.desc("df"), F.desc("cf"), "term")
            .limit(args.k)
            .collect()
        )
        print(
            json.dumps(
                [{"term": r["term"], "df": int(r["df"])} for r in rows]
            )
        )
        return

    if args.cmd == "suggest-next":
        from pyspark.sql import functions as F

        from .operators.build import Index

        idx = Index(args.index)
        if not idx.features().get("bigrams", False):
            # without pair termlists an empty suggestion list would be
            # indistinguishable from "no continuations" (r4 ADVICE)
            print(
                "suggest-next needs an index built with bigram_terms=True "
                "(this index has no pair termlists)",
                file=sys.stderr,
            )
            raise SystemExit(2)
        pfx = args.word.lower().strip() + " "
        ts = idx.termstats.read(spark)
        rows = (
            ts.filter(F.col("term").startswith(pfx))
            .orderBy(F.desc("df"), F.desc("cf"), "term")
            .limit(args.k)
            .collect()
        )
        print(
            json.dumps(
                [
                    {
                        "next": r["term"][len(pfx):],
                        "df": int(r["df"]),
                        "cf": int(r["cf"]),
                    }
                    for r in rows
                ]
            )
        )
        return

    if args.cmd == "anchor":
        from .operators.build import Index
        from .operators.links import search_anchor

        rows = search_anchor(
            spark, Index(args.index), args.token, k=args.k, enrich=args.enrich
        ).collect()
        print(
            json.dumps(
                [
                    {
                        "doc_id": r["doc_id"],
                        "n_anchor": int(r["n_anchor"]),
                        **(
                            {"repo": r["repo"], "path": r["path"]}
                            if args.enrich
                            else {}
                        ),
                    }
                    for r in rows
                ]
            )
        )
        return

    if args.cmd == "mlt":
        from .operators.build import Index
        from .plans.mlt import more_like_this

        docs = spark.read.parquet(args.src)
        rows = more_like_this(
            spark,
            Index(args.index),
            args.doc_id,
            k=args.k,
            m_terms=args.terms,
            corpus=docs,
        ).collect()
        print(
            json.dumps(
                [{"doc_id": r["doc_id"], "score": round(r["score"], 4)} for r in rows]
            )
        )
        return

    if args.cmd == "reindex":
        from .operators.build import Index
        from .plans.reindex import delete_by_query, reindex_by_query

        mode = "any" if args.match_any else "all"
        idx = Index(args.index)
        if args.delete:
            n = delete_by_query(spark, idx, args.query, match_mode=mode)
            print(json.dumps({"mode": "delete", "tombstoned": n}))
            return
        if not args.src:
            print(
                json.dumps({"error": "--src is required unless --delete"}),
                file=sys.stderr,
            )
            sys.exit(2)
        out = reindex_by_query(
            spark, idx, args.query, spark.read.parquet(args.src), match_mode=mode
        )
        print(json.dumps({"mode": "reindex", **out}))
        return

    if args.cmd == "compact":
        from .operators.build import Index
        from .operators.merge import compact_deltas, compact_postings

        if args.minor:
            n = compact_deltas(
                spark, Index(args.index), keep_largest=args.keep_largest
            )
            print(json.dumps({"minor_merged_segments": n, "index": args.index}))
        else:
            compact_postings(spark, Index(args.index))
            print(json.dumps({"compacted": args.index}))
        return

    if args.cmd == "search":
        from .operators.build import Index
        from .operators.topk import search_wand
        from .plans.exec import search
        from .plans.query import parse_query

        lb = None
        if args.lang_boost:
            lang, factor = args.lang_boost.rsplit(":", 1)
            lb = (lang, float(factor))
        roots = [r for r in args.index.split(",") if r]
        if len(roots) > 1:
            # federated multi-collection search (SURVEY §1 collections,
            # Collectiondb/&c=): per-collection stats, merged SERP.
            # Flags the federated path doesn't implement must fail loud,
            # not silently fall back to plain-WAND semantics
            unsupported = [
                flag
                for flag, on in (
                    ("--boolean", args.boolean),
                    ("--engine exhaustive", args.engine == "exhaustive"),
                    ("--synonyms", args.synonyms),
                    ("--cache", args.cache),
                    ("--explain", args.explain),
                )
                if on
            ]
            if unsupported:
                print(
                    json.dumps(
                        {
                            "error": "unsupported with a multi-collection "
                            "--index (federated search runs per-collection "
                            "WAND only)",
                            "flags": unsupported,
                        }
                    ),
                    file=sys.stderr,
                )
                sys.exit(2)
            import os as _os

            from .plans.federate import search_collections

            names = [_os.path.basename(r.rstrip("/")) or r for r in roots]
            if len(set(names)) < len(names):  # basename collision
                names = roots
            colls = {n: Index(r) for n, r in zip(names, roots)}
            t0 = time.time()
            rows = search_collections(
                spark, colls, args.query, k=args.k, enrich=True, lang_boost=lb
            ).collect()
            ms = (time.time() - t0) * 1000
            for r in rows:
                print(
                    json.dumps(
                        {
                            "collection": r["collection"],
                            "doc_id": r["doc_id"],
                            "score": round(r["score"], 4),
                            "repo": r["repo"],
                            "path": r["path"],
                            "lang": r["lang"],
                        }
                    )
                )
            print(
                json.dumps(
                    {
                        "engine": "federated-wand",
                        "collections": len(colls),
                        "latency_ms": round(ms, 1),
                    }
                ),
                file=sys.stderr,
            )
            return
        # roots[0], not args.index: a stray trailing comma was already
        # filtered out of roots and must not reach the path open
        idx = Index(roots[0])
        if args.boolean:
            from .plans.boolean import search_boolean

            t0 = time.time()
            rows = search_boolean(spark, idx, args.query).collect()
            ms = (time.time() - t0) * 1000
            for r in rows:
                print(json.dumps({"doc_id": r["doc_id"]}))
            print(
                json.dumps({"engine": "boolean", "latency_ms": round(ms, 1)}),
                file=sys.stderr,
            )
            return
        plan = parse_query(args.query)
        # WAND covers terms, OR-groups, negatives, and — on bigram
        # indexes — quoted phrases as pair-termlist kernel slots; only a
        # bigram-less index needs the positional general plan for phrases
        has_phrase = any(m.phrase for g in plan.groups for m in g.members)
        use_wand = args.engine == "wand" or (
            args.engine == "auto"
            and (not has_phrase or idx.features().get("bigrams", False))
        )
        fn = search_wand if use_wand else search
        if args.explain:
            # print the plan WITHOUT executing: the enriched path
            # materializes eagerly (driver-side Msg20 enrich), whose
            # 'plan' is just a LocalTableScan — explain the lazy
            # non-enriched query plan instead
            fn(
                spark, idx, args.query, k=args.k,
                synonyms=args.synonyms, lang_boost=lb, enrich=False,
            ).explain("formatted")
            return
        # t0 covers fn() too: search_wand does its kernel work eagerly and
        # returns a locally-materialized result (the job-free path)
        t0 = time.time()
        df = fn(
            spark, idx, args.query, k=args.k,
            synonyms=args.synonyms, lang_boost=lb, use_cache=args.cache,
        )
        rows = df.collect()
        ms = (time.time() - t0) * 1000
        for r in rows:
            print(
                json.dumps(
                    {
                        "doc_id": r["doc_id"],
                        "score": round(r["score"], 4),
                        "repo": r["repo"],
                        "path": r["path"],
                        "lang": r["lang"],
                    }
                )
            )
        print(json.dumps({"engine": "wand" if use_wand else "exhaustive",
                          "latency_ms": round(ms, 1)}), file=sys.stderr)
        return


if __name__ == "__main__":
    main()
