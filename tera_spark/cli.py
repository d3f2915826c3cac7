"""teracli-shaped thin CLI (doc/en/teracli.md surface).

    python -m tera_spark.cli create 'mytable {cf0 <maxversions=2>}' --root /tmp/tera
    python -m tera_spark.cli put mytable r1 cf0:q hello --root /tmp/tera
    python -m tera_spark.cli get mytable r1 --root /tmp/tera
    python -m tera_spark.cli scan mytable --start a --end z --root /tmp/tera
    python -m tera_spark.cli show --root /tmp/tera
    python -m tera_spark.cli compact mytable --root /tmp/tera
"""

from __future__ import annotations

import argparse
import sys


_QUOTA_NAMES = {
    "WRITEREQS": "write_reqs",
    "WRITEBYTES": "write_bytes",
    "READREQS": "read_reqs",
    "READBYTES": "read_bytes",
    "SCANREQS": "scan_reqs",
    "SCANBYTES": "scan_bytes",
}


def _access_cmd(args) -> int:
    """teracli `user` / `quota` commands over the access registry
    (UserOp src/teracli_main.cc:2998-3019; quota syntax `quota set t
    WRITEREQS=1000/2 ...` :413-423, limit -1 clears the op)."""
    from tera_spark.access import AccessControl

    ac = AccessControl(args.root)
    if args.cmd == "user":
        p = args.params
        if args.op == "create":
            ac.create_user(p[0], p[1]); print(f"created user {p[0]}")
        elif args.op == "changepwd":
            ac.change_pwd(p[0], p[1]); print("password changed")
        elif args.op == "show":
            u = ac._require_user(p[0])
            print(f"{p[0]} groups={','.join(u['groups']) or '-'}")
        elif args.op == "delete":
            ac.delete_user(p[0]); print(f"deleted user {p[0]}")
        elif args.op == "addtogroup":
            ac.add_user_to_group(p[0], p[1]); print(f"{p[0]} -> {p[1]}")
        elif args.op == "deletefromgroup":
            ac.delete_user_from_group(p[0], p[1]); print(f"{p[0]} -/-> {p[1]}")
        return 0
    # quota
    if args.op == "show":
        for table, ops in sorted(ac.show_quota().items()):
            for op, q in sorted(ops.items()):
                print(f"{table} {op} limit={q['limit']} period={q['period']}s")
        return 0
    table = args.params[0]
    if args.op == "delete":
        ac.del_quota(table); print(f"quota cleared: {table}")
        return 0
    for spec in args.params[1:]:
        name, _, rhs = spec.partition("=")
        limit, _, period = rhs.partition("/")
        op = _QUOTA_NAMES[name.upper()]
        if int(limit) < 0:
            quotas = ac._state["quotas"].get(table, {})
            quotas.pop(op, None)
            ac._save()
        else:
            ac.set_quota(table, op, int(limit), int(period) if period else 1)
    print(f"quota set: {table}")
    return 0


def _versions_lifted(schema):
    """COPY of ``schema`` with the scan-time version trim lifted
    (scanallv). Never mutate the catalog's schema object in place —
    safe today only because get_schema re-reads schema.json per call;
    a schema cache would leak the 1<<30 cap into later operations."""
    from tera_spark.registry import TableSchema

    s = TableSchema.from_json(schema.to_json())
    for cf in s.column_families.values():
        cf.max_versions = 1 << 30
    return s


def _apply(cat, name, batch):
    """Apply a CLI mutation with a real write sequence (the SDK facade's
    max(seq)+1 allocation) so snapshot/diff see CLI writes in order."""
    from tera_spark.client import Table

    Table(cat, name).apply_mutation(batch)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="teracli", description=__doc__)
    ap.add_argument("--root", default="/tmp/tera_spark_tables")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("create"); sp.add_argument("schema", nargs="?")
    sp.add_argument("--from-file", help="read the schema string from a file (teracli createbyfile)")
    sp.add_argument("--delimiters-file",
                    help="pre-split delimiter file, one row key per line "
                         "(createbyfile <schema> <delimiter_file>)")
    sp.add_argument("--hash-num", type=int,
                    help="pre-split a <hash=on> table into N equal hash-space "
                         "slices (CreateTable(desc, hash_num) overload)")
    sp = sub.add_parser("update"); sp.add_argument("schema")
    sp = sub.add_parser("enable"); sp.add_argument("table")
    sp = sub.add_parser("disable"); sp.add_argument("table")
    sp = sub.add_parser("drop"); sp.add_argument("table")
    sub.add_parser("show")
    sp = sub.add_parser("showschema"); sp.add_argument("table")
    for verb in ("put", "putif", "append"):
        sp = sub.add_parser(verb)
        for a in ("table", "row", "column", "value"):
            sp.add_argument(a)
        sp.add_argument("--ts", type=int)
    for verb in ("add", "addint64"):
        sp = sub.add_parser(verb)
        for a in ("table", "row", "column", "delta"):
            sp.add_argument(a)
        sp.add_argument("--ts", type=int)
    for verb in ("putint64", "put_counter"):
        sp = sub.add_parser(verb)
        for a in ("table", "row", "column", "value"):
            sp.add_argument(a)
        sp.add_argument("--ts", type=int)
    for verb in ("getint64", "get_counter"):
        sp = sub.add_parser(verb)
        sp.add_argument("table"); sp.add_argument("row"); sp.add_argument("column")
    sp = sub.add_parser("cas", help="compare-and-set: apply new value only if current == old")
    for a in ("table", "row", "column", "old", "new"):
        sp.add_argument(a)
    sp = sub.add_parser("put-ttl", help="KV-mode put with per-key TTL seconds")
    for a in ("table", "key", "value"):
        sp.add_argument(a)
    sp.add_argument("ttl", type=int, help="seconds until the key expires (0 = never)")
    sub.add_parser("showts", help="tablet (partition) layout per table")
    sp = sub.add_parser("stat", help="per-table observability roll-up (metadata only)")
    sp.add_argument("table")
    sp = sub.add_parser("findtablet", help="route a row key to its tablet file(s)")
    sp.add_argument("table"); sp.add_argument("row")
    sp = sub.add_parser("delete")
    sp.add_argument("table"); sp.add_argument("row")
    sp.add_argument("column", nargs="?", default=None)  # cf | cf:qu
    sp.add_argument("--version", action="store_true",
                    help="delete only the newest version of cf:qu")
    sp.add_argument("--ts", type=int)
    sp = sub.add_parser("get"); sp.add_argument("table"); sp.add_argument("row")
    sp = sub.add_parser("scan")
    sp.add_argument("table"); sp.add_argument("--start"); sp.add_argument("--end")
    sp.add_argument("--limit", type=int, default=100)
    sp.add_argument("--all-versions", action="store_true",
                    help="every retained version per column (teracli scanallv)")
    sp = sub.add_parser("compact"); sp.add_argument("table")
    sp.add_argument("--minor", action="store_true", help="selective: fold only dirty row-range groups")
    sp.add_argument("--auto", action="store_true",
                    help="metadata-driven policy: choose major/minor/none (catalog.maintenance)")
    sp.add_argument("--dry-run", action="store_true", help="with --auto: report only")
    sp = sub.add_parser("snapshot"); sp.add_argument("table")
    sp.add_argument("--list", action="store_true", help="list snapshot ids")
    sp.add_argument("--delete", metavar="SID", help="drop one snapshot")
    sp.add_argument("--expire-keep", type=int, metavar="N",
                    help="retention GC: keep only the newest N snapshots")
    sp.add_argument("--rollback", metavar="SID",
                    help="roll the table back to snapshot SID (teracli snapshot rollback)")
    sp = sub.add_parser("snapshotset", help="cross-table consistent snapshot sets")
    sp.add_argument("action", choices=["create", "show", "restore"])
    sp.add_argument("arg", help="comma-separated tables (create) or set id (show/restore)")
    sp = sub.add_parser("sql", help="run SQL over a table's pivoted view")
    sp.add_argument("table"); sp.add_argument("query")
    sp.add_argument("--limit", type=int, default=100)
    sp = sub.add_parser("index", help="secondary index: create / refresh / lookup")
    sp.add_argument("action", choices=["create", "refresh", "lookup"])
    sp.add_argument("table")
    sp.add_argument("column", help="cf:qualifier")
    sp.add_argument("value", nargs="?", help="lookup value")

    sp = sub.add_parser("diff", help="changefeed between two write seqs")
    sp.add_argument("table"); sp.add_argument("seq_start", type=int)
    sp.add_argument("--seq-end", type=int)
    sp.add_argument("--limit", type=int, default=100)
    sp = sub.add_parser("optimize"); sp.add_argument("table")
    sp.add_argument("--buckets", type=int)
    sp = sub.add_parser("import")
    for a in ("table", "src", "key_col"):
        sp.add_argument(a)
    sp.add_argument("--fmt", default="csv")
    sp.add_argument("--cf", default="data")
    sp = sub.add_parser("export"); sp.add_argument("table"); sp.add_argument("dest")
    sp = sub.add_parser(
        "batchput",
        help="bulk mutations from a record file: `rowkey cf:qualifier value` per line (teracli batchput)",
    )
    sp.add_argument("table"); sp.add_argument("file")
    sp = sub.add_parser(
        "batchget", help="bulk point reads from a key file: one row key per line"
    )
    sp.add_argument("table"); sp.add_argument("file")
    sp = sub.add_parser(
        "explain", help="plan features (shuffles/joins/pushdown) for a registered query"
    )
    sp.add_argument("query"); sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sp = sub.add_parser(
        "user",
        help="user create|changepwd|show|delete|addtogroup|deletefromgroup (teracli user)",
    )
    sp.add_argument(
        "op",
        choices=["create", "changepwd", "show", "delete", "addtogroup", "deletefromgroup"],
    )
    sp.add_argument("params", nargs="*")
    sp = sub.add_parser(
        "quota",
        help="quota show | set <table> WRITEREQS=1000/2 ... | delete <table> (teracli quota)",
    )
    sp.add_argument("op", choices=["show", "set", "delete"])
    sp.add_argument("params", nargs="*")
    sp = sub.add_parser(
        "http",
        help="serve the terahttp JSON proxy (tera.http.HttpProxy.Get/.Put) over this root",
    )
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8657)  # the sample's default port

    args = ap.parse_args(argv)

    # user/quota are pure metadata ops on the access registry — no
    # Spark session (teracli talks straight to the master for these)
    if args.cmd in ("user", "quota"):
        return _access_cmd(args)

    from tera_spark.catalog import Catalog
    from tera_spark.session import get_spark

    spark = get_spark("teracli")
    cat = Catalog(spark, args.root)

    if args.cmd == "http":
        from tera_spark.client import Client
        from tera_spark.sources.http_proxy import HttpProxy

        proxy = HttpProxy(Client(spark, args.root), host=args.host, port=args.port)
        print(f"terahttp proxy on {args.host}:{proxy.port}")
        try:
            proxy._server.serve_forever()
        except KeyboardInterrupt:
            proxy.stop()
        return 0

    if args.cmd == "create":
        from pathlib import Path

        text = args.schema
        if getattr(args, "from_file", None):
            text = Path(args.from_file).read_text().strip()
        if not text:
            print("create needs a schema string or --from-file")
            return 1
        delims = None
        if getattr(args, "delimiters_file", None):
            delims = [
                ln.strip()
                for ln in Path(args.delimiters_file).read_text().splitlines()
                if ln.strip()
            ]
        if getattr(args, "hash_num", None):
            from tera_spark.functions.keys import hash_delimiters
            from tera_spark.registry import parse_schema_string

            if delims:
                print("--hash-num and --delimiters-file are mutually exclusive")
                return 1
            if not parse_schema_string(text).hash_distribution:
                print("Create non-hash table with hash_num is invalid")
                return 1
            delims = hash_delimiters(args.hash_num)
        s = cat.create_table(text, delimiters=delims)
        extra = f", {len(s.delimiters)} pre-split delimiters" if s.delimiters else ""
        print(f"created {s.name} ({len(s.column_families)} cf{extra})")
    elif args.cmd == "update":
        from tera_spark.registry import parse_schema_string

        cat.update_schema(parse_schema_string(args.schema)); print("updated")
    elif args.cmd == "enable":
        cat.enable_table(args.table); print("enabled")
    elif args.cmd == "disable":
        cat.disable_table(args.table); print("disabled")
    elif args.cmd == "drop":
        cat.drop_table(args.table); print("dropped")
    elif args.cmd == "show":
        for t in cat.list_tables():
            print(t)
    elif args.cmd == "showschema":
        print(cat.get_schema(args.table).to_json())
    elif args.cmd in ("put", "putif", "append"):
        from tera_spark.operators.mutation import MutationBatch

        cf, _, qu = args.column.partition(":")
        b = MutationBatch()
        fn = {"put": b.put, "putif": b.put_if_absent, "append": b.append}[args.cmd]
        fn(args.row, cf, qu, args.value, ts=args.ts)
        _apply(cat, args.table, b)
        print("ok")
    elif args.cmd in ("add", "addint64"):
        from tera_spark.operators.mutation import MutationBatch

        cf, _, qu = args.column.partition(":")
        b = MutationBatch()
        fn = b.add if args.cmd == "add" else b.add_int64
        fn(args.row, cf, qu, int(args.delta), ts=args.ts)
        _apply(cat, args.table, b)
        print("ok")
    elif args.cmd in ("putint64", "put_counter"):
        from tera_spark.operators.mutation import MutationBatch

        cf, _, qu = args.column.partition(":")
        b = MutationBatch()
        fn = b.put_le_int64 if args.cmd == "putint64" else b.put_int64
        fn(args.row, cf, qu, int(args.value), ts=args.ts)
        _apply(cat, args.table, b)
        print("ok")
    elif args.cmd in ("getint64", "get_counter"):
        from tera_spark.client import Table
        from tera_spark.functions.codecs import py_decode_be_i64, py_decode_le_i64

        cf, _, qu = args.column.partition(":")
        dec = py_decode_le_i64 if args.cmd == "getint64" else py_decode_be_i64
        got = Table(cat, args.table).get(args.row, columns={cf: [qu]})
        for ts, value in got.get(cf, {}).get(qu, []):
            print(f"{args.row} {cf}:{qu} @{ts} {dec(value)}")
    elif args.cmd == "findtablet":
        hits = cat.find_tablet(args.table, args.row)
        if not hits:
            print("no tablet holds this key")
        for h in hits:
            print(f"{h['file']}\t[{h['start_key']}, {h['end_key']}]\t{h['rows']} rows")
    elif args.cmd == "stat":
        for k, v in cat.table_stats(args.table).items():
            print(f"{k}\t{v}")
    elif args.cmd == "showts":
        # tablet-server/tablet listing analog: partition layout per table
        for t in cat.list_tables():
            for info in cat.tablet_info(t):
                print(f"{t}\t{info}")
    elif args.cmd == "delete":
        if cat.get_schema(args.table).kv_mode:
            cat.kv_delete(args.table, args.row)
            print("ok")
            return 0
        from tera_spark.operators.mutation import MutationBatch

        b = MutationBatch()
        if args.column is None:
            b.delete_row(args.row, ts=args.ts)
        else:
            cf, has_qu, qu = args.column.partition(":")
            if not has_qu:
                b.delete_family(args.row, cf, ts=args.ts)
            elif args.version:
                b.delete_version(args.row, cf, qu, ts=args.ts)
            else:
                b.delete_column(args.row, cf, qu, ts=args.ts)
        _apply(cat, args.table, b)
        print("ok")
    elif args.cmd == "cas":
        from tera_spark.operators.mutation import MutationBatch, check_and_apply
        from tera_spark.client import Table

        cf, _, qu = args.column.partition(":")
        t = Table(cat, args.table)  # hash-aware: translates keys for <hash=on>
        ok = t.check_and_apply(
            args.row, cf, qu, args.old.encode(),
            MutationBatch().put(args.row, cf, qu, args.new),
        )
        if not ok:
            print("condition failed")
            return 1
        print("ok")
    elif args.cmd == "put-ttl":
        cat.kv_put(args.table, args.key, args.value, ttl_s=args.ttl or None)
        print("ok")
    elif args.cmd == "get":
        # the SDK read: seek path, <hash=on> keys translated in and out
        from tera_spark.client import KvTable, Table

        if cat.get_schema(args.table).kv_mode:
            v = KvTable(cat, args.table).get(args.row)
            if v is not None:
                print(f"{args.row} {v!r}")
            return 0
        for cf, quals in Table(cat, args.table).get(args.row).items():
            for qu, versions in quals.items():
                for ts, value in versions:
                    print(f"{args.row} {cf}:{qu} @{ts} {value!r}")
    elif args.cmd == "scan":
        # the SDK scan: paged seek path, <hash=on> keys translated
        import itertools

        from tera_spark.client import KvTable, Table
        from tera_spark.operators.scan import ScanDescriptor
        from tera_spark.operators.seek import Seeker

        if cat.get_schema(args.table).kv_mode:
            kv = KvTable(cat, args.table).scan(args.start, args.end)
            for r in itertools.islice(kv, args.limit):
                print(f"{r.key} {bytes(r.value or b'')!r}")
            return 0
        t = Table(cat, args.table)
        if args.all_versions:
            # teracli scanallv: every retained version (tombstones/TTL
            # still apply) — the schema's version trim lifted on a copy
            t._seeker = Seeker(
                cat, args.table, schema=_versions_lifted(cat.get_schema(args.table))
            )
        for r in t.scan(ScanDescriptor(start=args.start, end=args.end, number_limit=args.limit)):
            print(f"{r.row_key} {r.cf}:{r.qualifier} @{r.ts} {bytes(r.value or b'')!r}")
    elif args.cmd == "sql":
        # MySQL-frontend analog: the table is queryable as plain SQL
        # (qualifiers become columns; kv tables expose key/value)
        cat.register_sql_view(args.table)
        rows = spark.sql(args.query).limit(args.limit).collect()
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))
    elif args.cmd == "index":
        cf, qu = args.column.split(":", 1)
        if args.action == "create":
            print(cat.create_index(args.table, cf, qu))
        elif args.action == "refresh":
            r = cat.refresh_index(args.table, cf, qu)
            print(f"changes {r['changes']} seq {r['from_seq']} -> {r['to_seq']}")
        else:
            if args.value is None:
                print("lookup needs a value")
                return 1
            for r in cat.lookup_by_value(args.table, cf, qu, args.value).collect():
                print(f"{r.row_key} {r.cf}:{r.qualifier} @{r.ts} {bytes(r.value or b'')!r}")
    elif args.cmd == "snapshotset":
        if args.action == "create":
            sid = cat.snapshot_set(args.arg.split(","))
            print(sid)
        elif args.action == "show":
            for t, df in sorted(cat.read_snapshot_set(args.arg).items()):
                print(f"{t}\t{df.count()} rows")
        else:
            for t, seq in sorted(cat.restore_snapshot_set(args.arg).items()):
                print(f"{t}\trestored to seq {seq}")
    elif args.cmd == "diff":
        rows = cat.diff(args.table, args.seq_start, args.seq_end).limit(args.limit).collect()
        for r in rows:
            old = r.old_value.decode("utf-8", "replace") if r.old_value is not None else ""
            new = r.new_value.decode("utf-8", "replace") if r.new_value is not None else ""
            print(f"{r.row_key}\t{r.cf}:{r.qualifier}\t{r.change_type}\t{old}\t{new}")
    elif args.cmd == "compact":
        if getattr(args, "auto", False):
            r = cat.maintenance(args.table, apply=not args.dry_run)
            print(r)
        elif args.minor:
            print(cat.compact_ranges(args.table))
        else:
            cat.compact_inplace(args.table); print("compacted")
    elif args.cmd == "snapshot":
        if args.list:
            for sid in cat.list_snapshots(args.table):
                print(sid)
        elif args.delete:
            cat.delete_snapshot(args.table, args.delete); print("deleted")
        elif args.expire_keep is not None:
            for sid in cat.expire_snapshots(args.table, keep_last=args.expire_keep):
                print(f"expired {sid}")
        elif args.rollback:
            cat.rollback(args.table, args.rollback); print("rolled back")
        else:
            print(cat.snapshot(args.table))
    elif args.cmd == "optimize":
        print(f"{cat.optimize(args.table, buckets=args.buckets)} files")
    elif args.cmd == "import":
        from tera_spark.sources.ingest import rows_to_cells, read_input

        cells = rows_to_cells(
            read_input(spark, args.src, args.fmt), args.key_col, args.cf
        )
        cat.append(args.table, cells)
        print(f"imported {cells.count()} cells")
    elif args.cmd == "batchput":
        # record format (teracli batchput): `rowkey cf:qualifier value`,
        # or `key value` for kv-mode tables
        from tera_spark.operators.mutation import MutationBatch

        kv = cat.get_schema(args.table).kv_mode
        n = 0
        if kv:
            for line in open(args.file):
                parts = line.rstrip("\n").split(None, 1)
                if len(parts) == 2:
                    cat.kv_put(args.table, parts[0], parts[1])
                    n += 1
        else:
            b = MutationBatch()
            for line in open(args.file):
                parts = line.rstrip("\n").split(None, 2)
                if len(parts) != 3:
                    continue
                cf, _, qu = parts[1].partition(":")
                b.put(parts[0], cf, qu, parts[2])
                n += 1
            _apply(cat, args.table, b)
        print(f"put {n} records")
    elif args.cmd == "batchget":
        from tera_spark.client import Table

        keys = [ln.strip().split()[0] for ln in open(args.file) if ln.strip()]
        t = Table(cat, args.table)
        got = t.multi_get(keys)
        # storage order: hash order on a <hash=on> table, user keys shown
        for k in sorted(got, key=t._hk):
            for rk, cf, qu, ts, value in got[k]:
                print(f"{rk} {cf}:{qu} @{ts} {bytes(value).decode(errors='replace')}")
    elif args.cmd == "explain":
        import tera_spark.queries as Q
        from tera_spark.plans import explain_features

        Q.load_all()
        if args.query not in Q.QUERIES:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 1
        feats = explain_features(Q.QUERIES[args.query](spark, args.sf_dir))
        for k in sorted(feats):
            print(f"{k}: {feats[k]}")
    elif args.cmd == "export":
        if cat.get_schema(args.table).kv_mode:
            from pyspark.sql import functions as F

            kv = cat.view(args.table).select("key", F.col("value").cast("string"))
            kv.write.mode("overwrite").options(header=True).csv(args.dest)
        else:
            from tera_spark.sources.ingest import export_rows

            export_rows(cat.view(args.table)).write.mode("overwrite").options(
                header=True
            ).csv(args.dest)
        print("exported")
    return 0


if __name__ == "__main__":
    sys.exit(main())
