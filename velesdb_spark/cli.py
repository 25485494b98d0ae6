"""Interactive VelesQL shell — CLI parity.

Reference: crates/velesdb-cli/src/repl.rs + repl_commands.rs — a REPL
over a Database with dot-commands (.collections .schema .describe
.count .sample .stats .timing .format .use .export .set/.show/.reset
.info .help .quit) and free-text VelesQL executed against the current
collection. Output formats: table | json (repl_output.rs).

Testability: ``Repl.handle(line)`` is pure with respect to I/O — it
returns the rendered string (and a quit flag) instead of printing, so
every command is unit-testable without a TTY; ``main()`` wires the
input() loop. Rendering collects at most ``config.limit`` rows — the
REPL is a human surface, never a data path, so the driver-side collect
is always bounded.
"""

from __future__ import annotations

import json
import shlex
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class ReplConfig:
    """repl.rs ReplConfig: timing + output format + row cap + current
    collection (\\use)."""

    timing: bool = False
    format: str = "table"
    limit: int = 20
    current: str = ""
    params: dict = field(default_factory=dict)


MAX_SAMPLE_ROWS = 1000

HELP = """Commands:
  .help | .h                 this help
  .quit | .exit | .q         leave the shell
  .collections | .tables     list collections
  .schema [name]             column names + types
  .describe | .desc <name>   collection details
  .count <name>              row count
  .sample <name> [n]         first n rows (default 5)
  .stats <name>              collection statistics (rows, bytes, NDV)
  .browse <name> [n]         alias for .sample
  .timing on|off             print per-query wall time
  .format table|json         result rendering
  .limit <n>                 max rows rendered
  .use <name>                set the current collection for queries
  .info                      session + current collection
  .set <k> <v> / .show / .reset   query parameters ($k binds in VelesQL)
  .export <name> <path>      write the collection to parquet
  .import <name> <path> [jsonl|csv|parquet]   load a file into a
                             collection (creates or upserts; format
                             inferred from the extension by default)
  .traverse <name> <node> [bfs|dfs] [depth] [limit] [types]  graph walk
  .degree <name> <node> [in|out|both]         node degree
Anything else runs as VelesQL against the current collection."""


def _render_table(df: DataFrame, limit: int) -> str:
    rows = df.limit(limit).collect()
    cols = df.columns
    cells = [[_short(r[c]) for c in cols] for r in rows]
    widths = [max(len(c), *(len(row[i]) for row in cells))
              if cells else len(c) for i, c in enumerate(cols)]
    sep = "-+-".join("-" * w for w in widths)
    head = " | ".join(c.ljust(w) for c, w in zip(cols, widths))
    body = [" | ".join(row[i].ljust(widths[i]) for i in range(len(cols)))
            for row in cells]
    return "\n".join([head, sep] + body + [f"({len(rows)} rows)"])


def _short(v, cap: int = 50) -> str:
    s = "NULL" if v is None else str(v)
    return s[:cap] + "..." if len(s) > cap else s


def _render_json(df: DataFrame, limit: int) -> str:
    return "\n".join(json.dumps(r.asDict(recursive=True), default=str)
                     for r in df.limit(limit).collect())


class Repl:
    """Dot-command dispatcher (repl_commands.rs handle_command)."""

    def __init__(self, db, config: ReplConfig | None = None):
        self.db = db
        self.config = config or ReplConfig()
        if not self.config.current and db.collections:
            self.config.current = sorted(db.collections)[0]

    # -------------------------------------------------------- dispatch
    def handle(self, line: str) -> tuple[str, bool]:
        """Returns (rendered output, quit?). NO input may kill the shell:
        every failure — unbalanced quotes in shlex, non-numeric command
        arguments, empty-collection ValueErrors from Collection.df — is
        rendered as an Error line, exactly like query failures."""
        try:
            return self._dispatch(line)
        except Exception as exc:
            return f"Error: {exc}", False

    def _dispatch(self, line: str) -> tuple[str, bool]:
        line = line.strip()
        if not line:
            return "", False
        if not (line.startswith(".") or line.startswith("\\")):
            return self._run_query(line), False
        parts = shlex.split(line)
        cmd = parts[0].lstrip("\\").lstrip(".")
        handler = getattr(self, f"_cmd_{cmd}", None)
        aliases = {"h": "help", "q": "quit", "exit": "quit",
                   "tables": "collections", "desc": "describe",
                   "browse": "sample"}
        if handler is None and cmd in aliases:
            handler = getattr(self, f"_cmd_{aliases[cmd]}")
        if handler is None:
            return f"Unknown command: {parts[0]}", False
        return handler(parts)

    def _col(self, name: str):
        col = self.db.collections.get(name)
        if col is None:
            raise KeyError(f"Collection '{name}' not found")
        return col

    def _run_query(self, sql: str) -> str:
        import time

        col = self.db.collections.get(self.config.current)
        if col is None:
            return ("No current collection — .use <name> "
                    f"(available: {', '.join(sorted(self.db.collections)) or 'none'})")
        t0 = time.time()
        try:
            df = col.query(sql, self.config.params or None)
            out = (_render_json(df, self.config.limit)
                   if self.config.format == "json"
                   else _render_table(df, self.config.limit))
        except Exception as exc:  # surface, never kill the shell
            return f"Error: {exc}"
        if self.config.timing:
            out += f"\nTime: {(time.time() - t0) * 1000.0:.1f} ms"
        return out

    # -------------------------------------------------------- commands
    def _cmd_help(self, parts):
        return HELP, False

    def _cmd_quit(self, parts):
        return "bye", True

    def _cmd_collections(self, parts):
        names = sorted(self.db.collections)
        if not names:
            return "(no collections)", False
        lines = []
        for n in names:
            mark = "*" if n == self.config.current else " "
            lines.append(f"{mark} {n}")
        return "\n".join(lines), False

    def _cmd_schema(self, parts):
        try:
            name = parts[1] if len(parts) > 1 else self.config.current
            col = self._col(name)
        except KeyError as e:
            return str(e), False
        lines = [f"{name}:"]
        for f_ in col.df.schema.fields:
            lines.append(f"  {f_.name}  {f_.dataType.simpleString()}")
        return "\n".join(lines), False

    def _cmd_describe(self, parts):
        if len(parts) < 2:
            return "Usage: .describe <collection_name>", False
        try:
            col = self._col(parts[1])
        except KeyError as e:
            return str(e), False
        n = col.count()
        dim = col.dimension or 0
        est_mb = n * dim * 4 / 1_000_000.0
        return ("Collection Details\n"
                f"  Name: {col.name}\n"
                f"  Dimension: {dim}\n"
                f"  Metric: {col.metric}\n"
                f"  Point Count: {n}\n"
                f"  Est. Memory: {est_mb:.2f} MB (vectors only)"), False

    def _cmd_count(self, parts):
        if len(parts) < 2:
            return "Usage: .count <collection_name>", False
        try:
            return f"Count: {self._col(parts[1]).count()} records", False
        except KeyError as e:
            return str(e), False

    def _cmd_sample(self, parts):
        if len(parts) < 2:
            return "Usage: .sample <collection_name> [count]", False
        try:
            col = self._col(parts[1])
        except KeyError as e:
            return str(e), False
        # bounded like every other render: a shell .sample must never
        # become an unbounded driver collect
        n = min(max(int(parts[2]), 1) if len(parts) > 2 else 5,
                MAX_SAMPLE_ROWS)
        return _render_table(col.df, n), False

    def _cmd_stats(self, parts):
        if len(parts) < 2:
            return "Usage: .stats <collection_name>", False
        try:
            st = self._col(parts[1]).stats()
        except KeyError as e:
            return str(e), False
        lines = [f"  rows: {st.row_count}",
                 f"  size: {st.total_size_bytes} bytes",
                 f"  avg row: {st.avg_row_size:.1f} bytes"]
        for c, ndv in sorted(st.column_cardinality.items()):
            lines.append(f"  ndv({c}): {ndv}")
        return "\n".join(lines), False

    def _cmd_timing(self, parts):
        if len(parts) < 2:
            return f"Timing is {'on' if self.config.timing else 'off'}", False
        val = parts[1].lower()
        if val in ("on", "true", "1"):
            self.config.timing = True
        elif val in ("off", "false", "0"):
            self.config.timing = False
        else:
            return "Use: .timing on|off", False
        return f"Timing: {'on' if self.config.timing else 'off'}", False

    def _cmd_format(self, parts):
        if len(parts) < 2:
            return f"Format is {self.config.format}", False
        val = parts[1].lower()
        if val not in ("table", "json"):
            return "Use: .format table|json", False
        self.config.format = val
        return f"Format: {val}", False

    def _cmd_limit(self, parts):
        if len(parts) < 2:
            return f"Limit is {self.config.limit}", False
        self.config.limit = max(int(parts[1]), 1)
        return f"Limit: {self.config.limit}", False

    def _cmd_use(self, parts):
        if len(parts) < 2:
            return "Usage: .use <collection_name>", False
        try:
            self._col(parts[1])
        except KeyError as e:
            return str(e), False
        self.config.current = parts[1]
        return f"Using collection: {parts[1]}", False

    def _cmd_info(self, parts):
        cur = self.config.current or "(none)"
        return (f"collections: {len(self.db.collections)}\n"
                f"current: {cur}\n"
                f"format: {self.config.format}, timing: "
                f"{'on' if self.config.timing else 'off'}, "
                f"limit: {self.config.limit}"), False

    def _cmd_set(self, parts):
        if len(parts) < 3:
            return "Usage: .set <name> <value>", False
        raw = parts[2]
        try:
            val = json.loads(raw)
        except json.JSONDecodeError:
            val = raw
        self.config.params[parts[1]] = val
        return f"{parts[1]} = {val!r}", False

    def _cmd_show(self, parts):
        if not self.config.params:
            return "(no parameters)", False
        return "\n".join(f"  ${k} = {v!r}"
                         for k, v in sorted(self.config.params.items())), False

    def _cmd_reset(self, parts):
        self.config.params.clear()
        return "parameters cleared", False

    def _cmd_export(self, parts):
        if len(parts) < 3:
            return "Usage: .export <collection_name> <path>", False
        try:
            col = self._col(parts[1])
        except KeyError as e:
            return str(e), False
        col.df.write.mode("overwrite").parquet(parts[2])
        return f"Exported {parts[1]} to {parts[2]}", False

    def _cmd_traverse(self, parts):
        """CLI graph traversal (cli graph.rs GraphAction::Traverse):
        .traverse <col> <node_id> [bfs|dfs] [max_depth] [limit] [types]"""
        if len(parts) < 3:
            return ("Usage: .traverse <collection> <node_id> "
                    "[bfs|dfs] [max_depth] [limit] [types,comma]"), False
        try:
            col = self._col(parts[1])
        except KeyError as e:
            return str(e), False
        node = int(parts[2])
        strategy = parts[3].lower() if len(parts) > 3 else "bfs"
        depth = int(parts[4]) if len(parts) > 4 else 3
        limit = int(parts[5]) if len(parts) > 5 else 100
        types = tuple(parts[6].split(",")) if len(parts) > 6 else ()
        if strategy == "dfs":
            rows = col.traverse_dfs(node, max_depth=depth,
                                    rel_types=types, limit=limit)
            lines = [f"  {r['target_id']}  depth={r['depth']}  "
                     f"path={'->'.join(map(str, r['path']))}" for r in rows]
            return "\n".join(lines) or "(no results)", False
        df = col.traverse_bfs(node, max_depth=depth, rel_types=types) \
            .orderBy("depth", "node_id").limit(limit)
        return _render_table(df, limit), False

    def _cmd_degree(self, parts):
        """.degree <col> <node_id> [in|out|both] (cli graph.rs Degree)."""
        if len(parts) < 3:
            return "Usage: .degree <collection> <node_id> [in|out|both]", False
        try:
            col = self._col(parts[1])
        except KeyError as e:
            return str(e), False
        direction = parts[3].lower() if len(parts) > 3 else "both"
        return (f"Degree: "
                f"{col.node_degree(int(parts[2]), direction)}"), False

    def _cmd_import(self, parts):
        """import.rs parity (import_jsonl / import_csv): land a file into
        a collection — creates it or LWW-upserts into an existing one."""
        if len(parts) < 3:
            return "Usage: .import <collection_name> <path> [format]", False
        name, path = parts[1], parts[2]
        fmt = parts[3].lower() if len(parts) > 3 else (
            "jsonl" if path.endswith((".jsonl", ".json"))
            else "csv" if path.endswith(".csv") else "parquet")
        spark = self.db.spark
        try:
            if fmt in ("jsonl", "json"):
                df = spark.read.json(path)
            elif fmt == "csv":
                df = spark.read.csv(path, header=True, inferSchema=True)
            elif fmt == "parquet":
                df = spark.read.parquet(path)
            else:
                return f"Unknown format: {fmt} (jsonl|csv|parquet)", False
            if name in self.db.collections:
                self.db.collections[name].upsert(df)
            else:
                from velesdb_spark.database import Collection

                self.db.collections[name] = Collection(spark, name, df=df)
            n = self.db.collections[name].count()
            return f"Imported into {name} ({n} records)", False
        except Exception as exc:
            return f"Error: {exc}", False

    def _cmd_clear(self, parts):
        return "\x1b[2J\x1b[1;1H", False


_SUBCOMMANDS = ("repl", "query", "info", "list", "show", "export",
                "import", "multi-search", "graph")


def _open(path):
    from velesdb_spark.database import Database
    from velesdb_spark.session import get_spark

    spark = get_spark("velesdb-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return Database.open(spark, path)


def run_command(argv) -> str:
    """One-shot CLI commands (reference velesdb-cli main.rs Commands enum:
    Query/Info/List/Show/Export/Import/Graph) routed through the same
    Repl handlers as the shell; returns the rendered output (tested
    TTY-free like Repl.handle)."""
    import argparse

    cmd, rest = argv[0], argv[1:]
    ap = argparse.ArgumentParser(prog=f"velesdb-cli {cmd}")
    if cmd == "query":
        ap.add_argument("path"), ap.add_argument("query")
        ap.add_argument("-f", "--format", default="table",
                        choices=("table", "json"))
        a = ap.parse_args(rest)
        db = _open(a.path)
        repl = Repl(db)
        repl.config.format = a.format
        # route to the collection the query names (detect_query_type /
        # ParsedStatement.table_name — the reference's unified routing)
        try:
            from velesdb_spark.velesql.introspect import VelesQL

            table = VelesQL.parse(a.query).table_name
            if table in db.collections:
                repl.config.current = table
        except Exception:
            pass  # MATCH / unparsable → current collection reports
        return repl.handle(a.query)[0]
    if cmd == "info":
        ap.add_argument("path")
        a = ap.parse_args(rest)
        db = _open(a.path)
        lines = [f"Database: {db.path or '(in-memory)'}",
                 f"Collections: {len(db.collections)}"]
        lines += [f"  {n}" for n in sorted(db.collections)]
        return "\n".join(lines)
    if cmd == "list":
        ap.add_argument("path")
        ap.add_argument("-f", "--format", default="table",
                        choices=("table", "json"))
        a = ap.parse_args(rest)
        db = _open(a.path)
        infos = [db.collections[n].info() for n in sorted(db.collections)]
        if a.format == "json":
            import json

            return json.dumps(infos)
        return "\n".join(
            f"{i['name']}  dim={i['dimension']}  metric={i['metric']}  "
            f"count={i['count']}" for i in infos) or "(no collections)"
    if cmd == "show":
        ap.add_argument("path"), ap.add_argument("collection")
        ap.add_argument("-s", "--samples", type=int, default=0)
        a = ap.parse_args(rest)
        repl = Repl(_open(a.path))
        out = repl.handle(f".describe {a.collection}")[0]
        if a.samples:
            out += "\n" + repl.handle(
                f".sample {a.collection} {a.samples}")[0]
        return out
    if cmd == "export":
        ap.add_argument("path"), ap.add_argument("collection")
        ap.add_argument("-o", "--output", default=None)
        ap.add_argument("--include-vectors", default="true")
        a = ap.parse_args(rest)
        db = _open(a.path)
        col = db.collections.get(a.collection)
        if col is None:
            return f"Collection '{a.collection}' not found"
        out_path = a.output or f"{a.collection}.jsonl"
        df = col.df
        if a.include_vectors.lower() != "true" \
                and col.vector_col in df.columns:
            df = df.drop(col.vector_col)
        # JSONL, streamed partition-by-partition — bounded driver memory
        # (the reference buffers one JSON array, main.rs Export)
        with open(out_path, "w") as fh:
            for line in df.toJSON().toLocalIterator():
                fh.write(line + "\n")
        return f"Exported {a.collection} to {out_path}"
    if cmd == "import":
        ap.add_argument("file")
        ap.add_argument("-d", "--database", default="./data")
        ap.add_argument("-c", "--collection", required=True)
        ap.add_argument("--format", default=None)
        a = ap.parse_args(rest)
        repl = Repl(_open(a.database))
        parts = [".import", a.collection, a.file]
        if a.format:
            parts.append(a.format)
        return repl.handle(" ".join(parts))[0]
    if cmd == "multi-search":
        # main.rs:229-255 MultiSearch: query vectors as a JSON array of
        # arrays, fused per strategy
        import json

        ap.add_argument("path"), ap.add_argument("collection")
        ap.add_argument("vectors")
        ap.add_argument("-k", "--top-k", type=int, default=10)
        ap.add_argument("-s", "--strategy", default="rrf",
                        choices=("average", "maximum", "rrf", "weighted"))
        ap.add_argument("--rrf-k", type=int, default=60)
        ap.add_argument("-f", "--format", default="table",
                        choices=("table", "json"))
        a = ap.parse_args(rest)
        db = _open(a.path)
        col = db.collections.get(a.collection)
        if col is None:
            return f"Collection '{a.collection}' not found"
        vectors = json.loads(a.vectors)
        if not vectors:
            return "No query vectors provided"
        fused = col.multi_query_search(vectors, a.top_k,
                                       strategy=a.strategy,
                                       fusion_params={"k": a.rrf_k})
        render = _render_json if a.format == "json" else _render_table
        return render(fused, a.top_k)
    if cmd == "graph":
        ap.add_argument("path"), ap.add_argument("action",
                                                 choices=("traverse",
                                                          "degree"))
        ap.add_argument("args", nargs="*")
        a = ap.parse_args(rest)
        repl = Repl(_open(a.path))
        return repl.handle(f".{a.action} " + " ".join(a.args))[0]
    return f"Unknown command: {cmd}"


def main(argv=None) -> int:
    """``python -m velesdb_spark.cli [command] ...`` — one-shot commands
    (query/info/list/show/export/import/graph, main.rs Commands) or the
    interactive shell (``repl [path]``; a bare path also opens it)."""
    import sys

    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] in _SUBCOMMANDS and argv[0] != "repl":
        print(run_command(argv))
        return 0
    if argv and argv[0] == "repl":
        argv = argv[1:]
    path = argv[0] if argv else None
    db = _open(path)
    repl = Repl(db)
    print("velesdb-spark shell — .help for commands")
    while True:
        try:
            line = input("veles> ")
        except (EOFError, KeyboardInterrupt):
            print()
            break
        out, quit_ = repl.handle(line)
        if out:
            print(out)
        if quit_:
            break
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
