"""CLI entry points (cmd/imposm/main.go:42-71 dispatch parity).

Subcommands:

- ``import``: mapping + OSM file -> per-table output (parquet dirs; with
  ``-connection`` also emits the PostGIS DDL/COPY flow from sinks/postgis).
  Flags mirror config.go:180-248 (``-mapping``, ``-read``, ``-srid``,
  ``-limitto``…) with ``-write-parquet`` as the Spark-native sink.
- ``diff``: apply OsmChange files onto a previous import's parquet output
  (update/cmd.go `Diff`): last-write-wins per element, delete-before-insert
  per table, element state persisted for the next run.
- ``run``: the replication loop (update/cmd.go `Run`): poll a local landing
  dir — or mirror a remote replication feed via ``-url`` — applying each
  sequence exactly once, checkpointing last.state.txt.
- ``curate``: the training-data pipeline over a parquet documents table:
  quality gate -> exact dedup -> MinHash-LSH near-dup clustering -> one
  representative per cluster, written as parquet (the ``doc_curate``
  composition as a command).
- ``version``.

The heavy lifting stays in the library; this module is arg parsing plus a
handful of parquet read/write helpers. Output tables are plain parquet
directories readable by any engine (and by the ``diff`` subcommand).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

from imposm3_spark.config import merge_config

VERSION = "0.2.0"

STATE_DIRS = ("nodes", "ways", "relations")


def _read_source(spark, path: str, mapping=None):
    from imposm3_spark.sources.osm_xml import read_osm_xml
    from imposm3_spark.sources.pbf import read_pbf

    if path.endswith(".pbf"):
        # push the mapping-derived tag prefilter into the decode tasks
        # (reference parity: reader-side filter.go before caching)
        return read_pbf(spark, path, mapping=mapping)
    return read_osm_xml(spark, path)


def _swap_write(df, dest: str) -> None:
    """Write parquet atomically even when `df` reads from `dest` itself:
    materialize to <dest>~new, then swap directories."""
    tmp = dest + "~new"
    df.write.mode("overwrite").parquet(tmp)
    old = dest + "~old"
    if os.path.exists(dest):
        os.replace(dest, old) if not os.path.isdir(dest) else shutil.move(dest, old)
        shutil.move(tmp, dest)
        shutil.rmtree(old, ignore_errors=True)
    else:
        shutil.move(tmp, dest)


def _limiter(args):
    if not getattr(args, "limitto", None):
        return None
    from imposm3_spark.geom.clip import Limiter
    from imposm3_spark.sources.geojson import load_geojson

    return Limiter(
        load_geojson(args.limitto, transform=args.srid), buffer=args.limittocachebuffer
    )


def _build_spark(args):
    from imposm3_spark.session import get_spark

    return get_spark("imposm3-spark-cli")


def cmd_import(args) -> int:
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline

    spark = _build_spark(args)
    mapping = load_mapping(args.mapping)
    nodes, ways, rels = _read_source(spark, args.read, mapping=mapping)
    pipe = ImportPipeline(mapping, srid=args.srid, limiter=_limiter(args))
    tables = pipe.run(nodes, ways, rels)

    out = args.write_parquet
    if out:
        for name, df in tables.items():
            _swap_write(df, str(Path(out) / name))
        if args.diff:
            # persist element state so `diff` can resume (cache parity)
            for sub, df in zip(STATE_DIRS, (nodes, ways, rels)):
                _swap_write(df, str(Path(out) / "_state" / sub))
        print(f"imported {len(tables)} tables -> {out}")
    if args.connection:
        from imposm3_spark.sinks import postgis as pg

        cfg = pg.PostGISConfig(
            schema_import=getattr(args, "dbschema_import", "import"),
            schema_production=getattr(args, "dbschema_production", "public"),
            schema_backup=getattr(args, "dbschema_backup", "backup"),
            srid=args.srid,
            use_postgis=getattr(args, "use_postgis", True),
        )
        if args.connection.startswith("ddl:"):
            # print the DDL flow instead of executing (no live DB needed)
            for name in tables:
                for stmt in pg.table_ddl(mapping.tables[name], cfg):
                    print(stmt + ";")
        else:
            # schema + tables first (postgis.go Init flow), then COPY
            pg.execute_ddl(
                f'CREATE SCHEMA IF NOT EXISTS "{cfg.schema_import}"', args.connection
            )
            for name in tables:
                for stmt in pg.table_ddl(mapping.tables[name], cfg):
                    pg.execute_ddl(stmt, args.connection)
            for name, df in tables.items():
                pg.write_bulk(df, mapping.tables[name], cfg, args.connection)
            if args.optimize or args.deployproduction:
                for name in tables:
                    stmts = pg.finish_ddl(mapping.tables[name], cfg)
                    if args.deployproduction:
                        stmts += pg.rotate_ddl(mapping, cfg)
                    for stmt in stmts:
                        pg.execute_ddl(stmt, args.connection)
            print(f"wrote {len(tables)} tables -> postgis")
    if not out and not args.connection:
        for name, df in tables.items():
            print(name, df.count())
    return 0


def cmd_query(args) -> int:
    """Debug surface S13 (reference `query-cache`, cache/query/query.go:160-205):
    look up nodes/ways/relations in the persisted element state, optionally
    with dependents (ways referencing a node, relations referencing a way —
    the diff-cache reverse indexes) and -full recursion into members.
    Prints one JSON object shaped like the reference's."""
    import json

    from pyspark.sql import functions as F

    spark = _build_spark(args)
    state = _load_state(spark, args.write_parquet)

    def ids(s: str) -> list[int]:
        return [int(x) for x in s.split(",") if x.strip()] if s else []

    def rows_by_id(df, want: list[int]) -> dict:
        if not want:
            return {}
        found = {r["id"]: r.asDict(recursive=True) for r in df.filter(F.col("id").isin(want)).collect()}
        return {str(i): found.get(i) for i in want}

    node_ids, way_ids, rel_ids = ids(args.node), ids(args.way), ids(args.rel)
    result: dict = {}

    rels = rows_by_id(state.relations, rel_ids)
    if args.full:
        for r in rels.values():
            if r:
                member_ways = [m["id"] for m in r["members"] if m["type"] == 1]
                r["ways"] = rows_by_id(state.ways, member_ways)
    if rels:
        result["relations"] = rels

    ways = rows_by_id(state.ways, way_ids)
    for wid_s, w in ways.items():
        if w is None:
            continue
        wid = int(wid_s)
        if args.full:
            w["nodes"] = rows_by_id(state.nodes, list(w["refs"]))
        if args.deps:
            dep = state.relations.filter(
                F.exists("members", lambda m: (m["id"] == wid) & (m["type"] == 1))
            )
            w["relations"] = {str(r["id"]): r.asDict(recursive=True) for r in dep.collect()}
    if ways:
        result["ways"] = ways

    nodes = rows_by_id(state.nodes, node_ids)
    for nid_s, n in nodes.items():
        if n is None:
            continue
        nid = int(nid_s)
        if args.deps:
            dep = state.ways.filter(F.array_contains("refs", nid))
            n["ways"] = {str(r["id"]): r.asDict(recursive=True) for r in dep.collect()}
    if nodes:
        result["nodes"] = nodes

    print(json.dumps(result, default=str, sort_keys=True))
    return 0


def _load_state(spark, out: str):
    from imposm3_spark.diff.update import OsmState

    return OsmState(
        *[spark.read.parquet(str(Path(out) / "_state" / sub)) for sub in STATE_DIRS]
    )


def _write_state_and_tables(out: str, state, tables: dict) -> None:
    """Swap-write the tables and _state of the CLI's parquet layout."""
    for name, df in tables.items():
        _swap_write(df, str(Path(out) / name))
    for sub, df in zip(STATE_DIRS, (state.nodes, state.ways, state.relations)):
        _swap_write(df, str(Path(out) / "_state" / sub))


def cmd_diff(args, files: list[str]) -> int:
    from imposm3_spark.diff.runner import apply_change_rows
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.sources.osm_xml import read_osc_rows

    spark = _build_spark(args)
    mapping = load_mapping(args.mapping)
    pipe = ImportPipeline(mapping, srid=args.srid, limiter=_limiter(args))
    out = args.write_parquet
    state = _load_state(spark, out)
    tables = {n: spark.read.parquet(str(Path(out) / n)) for n in mapping.tables}

    for f in files:
        # the step pins the new state and tables, so the swap below never
        # reads the files it replaces
        state, tables, _ = apply_change_rows(spark, pipe, state, tables, None, read_osc_rows(f))
        print(f"applied {f}")

    _write_state_and_tables(out, state, tables)
    return 0


def cmd_run(args) -> int:
    from imposm3_spark.diff.runner import ReplicationRunner
    from imposm3_spark.diff.update import OsmState
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline

    spark = _build_spark(args)
    mapping = load_mapping(args.mapping)
    pipe = ImportPipeline(mapping, srid=args.srid, limiter=_limiter(args))
    out = args.write_parquet
    state = _load_state(spark, out)
    tables = {n: spark.read.parquet(str(Path(out) / n)) for n in mapping.tables}

    downloader = None
    if args.url:
        from imposm3_spark.diff.download import DiffDownloader

        downloader = DiffDownloader(url=args.url, dest=args.diffdir)
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=state,
        tables=tables,
        diff_dir=args.diffdir,
        state_file=str(Path(args.diffdir) / "last.state.txt"),
        expire_dir=args.expiretiles_dir or None,
        expire_zoom=getattr(args, "expiretiles_zoom", 0) or 14,
        downloader=downloader,
        # every batch lands on disk before its sequence is checkpointed;
        # the step pins its output, so the swap never reads the files it
        # replaces
        publish=lambda st, tables: _write_state_and_tables(out, st, tables),
    )
    applied = runner.run(max_batches=args.max_batches, poll_interval=args.poll_interval)
    print(f"applied {applied} sequences")
    return 0


def cmd_curate(args) -> int:
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe import cluster as cl
    from imposm3_spark.datapipe import dedup as dd
    from imposm3_spark.datapipe import text as tx

    spark = _build_spark(args)
    docs = spark.read.parquet(args.read)
    id_col, text_col = args.id_column, args.text_column
    q = docs.withColumns(
        {
            "n_tokens": tx.token_count(F.col(text_col)),
            "quality": tx.quality_score(F.col(text_col)),
        }
    ).filter(F.col("quality") >= args.min_quality)
    if getattr(args, "gopher", False):
        gate = tx.gopher_rules(docs, text_col=text_col, id_col=id_col).select(
            id_col, "passes"
        )
        q = q.join(F.broadcast(gate.filter(F.col("passes")).select(id_col)), id_col, "leftsemi")
    if getattr(args, "benchmark", ""):
        bench = spark.read.parquet(args.benchmark)
        contaminated = dd.decontaminate(
            q, bench, text_col=text_col, id_col=id_col
        ).select(id_col)
        q = q.join(F.broadcast(contaminated), id_col, "left_anti")
    keep = (
        q.groupBy(F.md5(text_col).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    q2 = q.join(keep, id_col, "leftsemi").localCheckpoint(eager=True)
    pairs = dd.minhash_lsh_pairs(q2, text_col=text_col, id_col=id_col)
    curated = cl.dedup_representatives(
        q2, pairs, id_col, pair_a="id_a", pair_b="id_b"
    )
    if getattr(args, "scrub", False):
        curated = curated.withColumn(text_col, tx.scrub_pii(F.col(text_col)))
    _swap_write(curated, args.out)
    n_in = docs.count()
    n_out = spark.read.parquet(args.out).count()
    print(f"curate: {n_in} -> {n_out} documents ({args.out})")
    return 0


def _base_flags(p: argparse.ArgumentParser) -> None:
    # single-dash long flags for Go-flag parity (config.go:180-194)
    p.add_argument("-config", default="", help="JSON config file, merged under explicit flags (config.go:64-154)")
    p.add_argument("-mapping", default="", help="mapping file (yaml/json); may come from -config")
    p.add_argument("-srid", type=int, default=3857)
    p.add_argument("-limitto", default="", help="limit to geometries (geojson); NONE clears a config value")
    p.add_argument("-limittocachebuffer", type=float, default=0.0)
    p.add_argument("-connection", default="", help="postgis connection")
    p.add_argument("-write-parquet", dest="write_parquet", default="", help="output dir (config key: cachedir)")
    p.add_argument("-dbschema-import", dest="dbschema_import", default="import")
    p.add_argument("-dbschema-production", dest="dbschema_production", default="public")
    p.add_argument("-dbschema-backup", dest="dbschema_backup", default="backup")


def cmd_sql(args) -> int:
    """Run arbitrary Spark SQL with the testdata-shaped parquet tables
    pre-registered as temp views — the ad-hoc SQL surface next to the
    named-query registry (analyze). Catalyst plans the statement like
    any registered query; -explain prints the executed plan instead of
    rows."""
    from imposm3_spark.session import get_spark

    spark = get_spark("sql")
    spark.sparkContext.setLogLevel("ERROR")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
    df = spark.sql(args.execute)
    if args.explain:
        df.collect()
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        for row in df.limit(args.limit).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    return 0


def cmd_analyze(args) -> int:
    """Run a registered analytics query by name against a testdata-shaped
    parquet directory and write/print the result — the ad-hoc execution
    surface for every operator in the registry (benchqueries QUERIES)."""
    from imposm3_spark import benchqueries as bq
    from imposm3_spark.session import get_spark

    if args.list:
        for name in sorted(bq.QUERIES):
            print(name)
        return 0
    if args.name not in bq.QUERIES:
        print(f"unknown query: '{args.name}' (use -list)", file=sys.stderr)
        return 2
    spark = get_spark("analyze")
    spark.sparkContext.setLogLevel("ERROR")
    df = bq.QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        # executed (post-AQE) plan: run, then print — the plan a user
        # should inspect before scaling the query up
        df.collect()
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        for row in df.limit(args.limit).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    return 0


def cmd_gate(args) -> int:
    """Replay the correctness gate: run each registered query AND its
    DuckDB oracle side-by-side on the same parquet tables, compare row
    count / schema / sorted-value hash — the operational self-check a
    deployment runs after an upgrade (same comparison as the driver's
    CORRECTNESS gate; scripts/check_oracle.py is the scripted form)."""
    import runpy

    sys.argv = ["check_oracle.py", args.sf_dir] + (
        args.only.split(",") if args.only else []
    )
    script = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "check_oracle.py")
    if not os.path.exists(script):
        print("scripts/check_oracle.py not found", file=sys.stderr)
        return 2
    try:
        runpy.run_path(script, run_name="__main__")
    except SystemExit as e:
        return int(e.code or 0)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print("usage: imposm3_spark import|diff|run|query|curate|analyze|sql|gate|version [args]", file=sys.stderr)
        return 2
    cmd, rest = argv[0], argv[1:]
    if cmd == "version":
        print(VERSION)
        return 0
    if cmd == "import":
        p = argparse.ArgumentParser(prog="imposm3_spark import")
        _base_flags(p)
        p.add_argument("-read", required=True, help="OSM .pbf/.osm file")
        p.add_argument("-diff", action="store_true", help="persist state for diff mode")
        p.add_argument("-optimize", action="store_true")
        p.add_argument("-deployproduction", action="store_true")
        p.add_argument(
            "-no-postgis",
            dest="use_postgis",
            action="store_false",
            help="plain PostgreSQL target: geometry as BYTEA, no GIST/CLUSTER",
        )
        args = p.parse_args(rest)
        merge_config(args, p)
        return cmd_import(args)
    if cmd == "query":
        p = argparse.ArgumentParser(prog="imposm3_spark query")
        # no mapping needed: pure element-state lookups (query.go flags)
        p.add_argument("-write-parquet", dest="write_parquet", required=True,
                       help="import output dir holding _state/")
        p.add_argument("-node", default="", help="comma-separated node ids")
        p.add_argument("-way", default="", help="comma-separated way ids")
        p.add_argument("-rel", default="", help="comma-separated relation ids")
        p.add_argument("-deps", action="store_true", help="show dependent ways/relations")
        p.add_argument("-full", action="store_true", help="recurse into relations/ways")
        return cmd_query(p.parse_args(rest))
    if cmd == "diff":
        p = argparse.ArgumentParser(prog="imposm3_spark diff")
        _base_flags(p)
        args, files = p.parse_known_args(rest)
        merge_config(args, p)
        return cmd_diff(args, files)
    if cmd == "curate":
        p = argparse.ArgumentParser(prog="imposm3_spark curate")
        p.add_argument("-read", required=True, help="documents parquet path")
        p.add_argument("-out", required=True, help="output parquet dir")
        p.add_argument("-id-column", dest="id_column", default="doc_id")
        p.add_argument("-text-column", dest="text_column", default="text")
        p.add_argument("-min-quality", dest="min_quality", type=float, default=0.75)
        p.add_argument(
            "-gopher",
            action="store_true",
            help="also require the Gopher rule table's `passes` flag",
        )
        p.add_argument(
            "-scrub",
            action="store_true",
            help="redact emails/URLs/long digit runs before writing",
        )
        p.add_argument(
            "-benchmark",
            default="",
            help="eval-set parquet; drop docs sharing any word 3-gram with it",
        )
        return cmd_curate(p.parse_args(rest))
    if cmd == "run":
        p = argparse.ArgumentParser(prog="imposm3_spark run")
        _base_flags(p)
        p.add_argument("-diffdir", default="", help="landing dir for .osc sequences (config key: diffdir)")
        p.add_argument("-url", default="", help="replication feed base url (config key: replication_url)")
        p.add_argument("-expiretiles-dir", dest="expiretiles_dir", default="")
        p.add_argument("-expiretiles-zoom", dest="expiretiles_zoom", type=int, default=0)
        p.add_argument("-max-batches", dest="max_batches", type=int, default=None)
        p.add_argument("-poll-interval", dest="poll_interval", type=float, default=0.0)
        args = p.parse_args(rest)
        merge_config(args, p)
        if not args.diffdir:
            p.error("missing -diffdir (flag or config diffdir)")
        return cmd_run(args)
    if cmd == "sql":
        p = argparse.ArgumentParser(prog="imposm3_spark sql")
        p.add_argument("-e", dest="execute", required=True, help="SQL statement")
        p.add_argument("-sf-dir", dest="sf_dir", default="/root/testdata/sf0.01")
        p.add_argument("-out", default="", help="write result parquet here instead of stdout")
        p.add_argument("-limit", type=int, default=20, help="stdout row cap")
        p.add_argument("-explain", action="store_true",
                       help="print the executed (post-AQE) physical plan instead of rows")
        return cmd_sql(p.parse_args(rest))
    if cmd == "gate":
        p = argparse.ArgumentParser(prog="imposm3_spark gate")
        p.add_argument("-sf-dir", dest="sf_dir", default="/root/testdata/sf0.01")
        p.add_argument("-only", default="", help="comma-separated query names")
        return cmd_gate(p.parse_args(rest))
    if cmd == "analyze":
        p = argparse.ArgumentParser(prog="imposm3_spark analyze")
        p.add_argument("-name", default="", help="registered query name")
        p.add_argument("-sf-dir", dest="sf_dir", default="/root/testdata/sf0.01",
                       help="parquet table dir (testdata layout)")
        p.add_argument("-out", default="", help="write result parquet here instead of stdout")
        p.add_argument("-limit", type=int, default=20, help="stdout row cap")
        p.add_argument("-list", action="store_true", help="list registered queries")
        p.add_argument("-explain", action="store_true",
                       help="print the executed (post-AQE) physical plan instead of rows")
        args = p.parse_args(rest)
        if not args.list and not args.name:
            p.error("missing -name (or -list)")
        return cmd_analyze(args)
    print(f"invalid command: '{cmd}'", file=sys.stderr)
    return 2
