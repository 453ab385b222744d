"""dsq-compatible CLI (reference main.go:341-432 flags, :463-690 lifecycle).

Usage parity:
    dsq-spark file.csv "SELECT COUNT(1) FROM {}"
    dsq-spark f1.csv f2.json "SELECT ... FROM {0} JOIN {1} ..."
    dsq-spark file.csv                      # query-less conversion dump
    cat x.csv | dsq-spark -s csv "SELECT ..."
    dsq-spark --pretty / --schema / -f query.sql / -n / -C / -i

Lifecycle (Spark mapping of SURVEY §3): argv → stdin spooling → per-file
read via dsq_spark.sources → flatten → temp views t_N → query rewrite
(dsq_spark.rewrite) → registration of the function library if the
rewritten statement calls it (dsq_spark.functions) → spark.sql → sink
(dsq_spark.io_out).
"""

from __future__ import annotations

import logging
import os
import stat
import sys
import tempfile
from dataclasses import dataclass, field

from dsq_spark.cache import ParquetCache
from dsq_spark.io_out import dump_json, pretty_table, schema_json, schema_pretty
from dsq_spark.rewrite import TableRef, extract_table_refs, rewrite_query_tracked
from dsq_spark.sources import read_file
from dsq_spark.sources.flatten import flatten
from dsq_spark.sqllex import opaque_spans

VERSION = "dsq-spark 0.1.0"

HELP = """dsq-spark - PySpark-native dsq: query files with SQL

Usage: dsq-spark [FLAGS] FILES... [QUERY]

Flags (reference-compatible, main.go:341-432):
  -s, --stdin TYPE        read stdin as TYPE (csv, json, ...)
  -f, --file FILE         read query from FILE
  -p, --pretty            ASCII-table output
  -c, --schema            dump inferred schema instead of rows
  -n, --convert-numbers   infer numeric columns in CSV/TSV
  -C, --cache             cache ingested inputs as Parquet
  -D, --cache-file        print cache location (implies -C)
  -i, --interactive       REPL (implies --pretty, --cache)
      --no-sqlite-writer  accepted for compatibility (no-op)
      --strict-json       SQLite-loud JSON1: malformed JSON raises
      --verbose           print the class-data archive state, the
                          driver JIT, whether each input's schema was
                          inferred or reused, the rewritten SQL and
                          the functions registered for it to stderr
  -v, --version           print version
  -h, --help              this help

Env: DSQ_CACHE=true, DSQ_CONVERT_NUMBERS=true (reference main.go:344-346).
"""


@dataclass
class Args:
    files: list[str] = field(default_factory=list)
    query: str | None = None
    piped_mimetype: str | None = None
    sql_file: str | None = None
    pretty: bool = False
    schema: bool = False
    convert_numbers: bool = False
    cache: bool = False
    dump_cache_file: bool = False
    interactive: bool = False
    verbose: bool = False


def parse_args(argv: list[str]) -> Args | None:
    a = Args()
    a.convert_numbers = os.environ.get("DSQ_CONVERT_NUMBERS", "").lower() == "true"
    a.cache = os.environ.get("DSQ_CACHE", "").lower() == "true"
    nonflag: list[str] = []
    i = 0
    while i < len(argv):
        arg = argv[i]
        if arg in ("-s", "--stdin"):
            if i == len(argv) - 1:
                raise SystemExit("Must specify stdin mimetype.")
            a.piped_mimetype = argv[i + 1]
            i += 2
            continue
        if arg in ("-f", "--file"):
            if i == len(argv) - 1:
                raise SystemExit("Must specify a SQL file.")
            a.sql_file = argv[i + 1]
            i += 2
            continue
        if arg in ("-h", "--help"):
            print(HELP, file=sys.stderr)
            return None
        if arg in ("-v", "--version"):
            print(VERSION, file=sys.stderr)
            return None
        if arg in ("-p", "--pretty"):
            a.pretty = True
        elif arg in ("-c", "--schema"):
            a.schema = True
        elif arg in ("-n", "--convert-numbers"):
            a.convert_numbers = True
        elif arg in ("-C", "--cache"):
            a.cache = True
        elif arg in ("-D", "--cache-file"):
            a.dump_cache_file = a.cache = True
        elif arg in ("-i", "--interactive"):
            a.interactive = a.pretty = a.cache = True
        elif arg == "--no-sqlite-writer":
            pass  # fast-path toggle is meaningless here (SURVEY U2)
        elif arg == "--strict-json":
            # SQLite-loud JSON1: malformed JSON / bad paths raise (the
            # reference surfaces SQLite's error) instead of the engine's
            # default NULL/zero-rows.  Env, not an Args field: the flag
            # must reach register_all AND the rewrite-time lowering and
            # inlining decisions, all of which read DSQ_STRICT_JSON
            # through functions.strict_json_mode.  `run` restores it.
            os.environ["DSQ_STRICT_JSON"] = "1"
        elif arg == "--verbose":
            a.verbose = True
        else:
            nonflag.append(arg)
        i += 1

    # Last non-flag arg is the query ONLY if it contains a space (else it is
    # a file) — reference heuristic main.go:502-508 (SURVEY U6).
    if a.sql_file:
        with open(a.sql_file, encoding="utf-8") as fh:
            a.query = fh.read().strip()
        if not a.query:
            raise SystemExit(f"SQL file {a.sql_file} is empty")
        a.files = nonflag
    elif nonflag and " " in nonflag[-1]:
        a.query = nonflag[-1]
        a.files = nonflag[:-1]
    else:
        a.files = nonflag
    return a


def _spool_stdin(mimetype: str) -> str:
    """Copy stdin to a temp file; `run` removes it when it returns."""
    suffix = "." + mimetype.split("/")[-1]
    tmp = tempfile.NamedTemporaryFile("wb", suffix=suffix, delete=False)
    with tmp as fh:
        fh.write(sys.stdin.buffer.read())
    return tmp.name


def _input_bytes(a: Args) -> int | None:
    """The bytes a one-shot call reads from its inputs, for get_spark's
    choice of JIT; None for the REPL, when an input is not a regular file
    (a directory, a URI, a missing path), or when its format is not one of
    session.C1_FORMATS (a Parquet file holds many more rows per byte)."""
    from dsq_spark.session import C1_FORMATS

    if a.interactive:
        return None
    total = 0
    for path in a.files:
        try:
            st = os.stat(path)
        except OSError:
            return None
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        if not stat.S_ISREG(st.st_mode) or ext not in C1_FORMATS:
            return None
        total += st.st_size
    return total


def _ingest(spark, a: Args, refs: list[TableRef]):
    """Read every referenced (file, doc_path) combination, flatten, register
    temp views. Returns (view name of panel 0 for dump modes, column-kind
    map for the rewriter's static type inference — dsq's CSV/TSV default
    makes every column TEXT, which is exactly what SQLite's division/CAST
    coercion rules key on)."""
    cache = ParquetCache(a.files, a.cache,
                         key_extra=(a.convert_numbers, a.piped_mimetype))
    if a.dump_cache_file:
        print(cache.dir)
    by_index: dict[int, list[TableRef]] = {}
    for r in refs:
        by_index.setdefault(r.index, []).append(r)
    if not refs:
        by_index = {0: [TableRef(0, None)]}
    first_view = None
    dtypes: list[tuple[str, str]] = []
    varied: list[str] = []
    for idx, rlist in sorted(by_index.items()):
        if idx >= len(a.files):
            raise SystemExit(f"No input file for table reference {{{idx}}}")
        for r in rlist:
            df = cache.get(spark, idx) if r.doc_path is None else None
            if df is None:
                df = read_file(
                    spark, a.files[idx],
                    mimetype=a.piped_mimetype if idx == 0 and a.piped_mimetype else None,
                    convert_numbers=a.convert_numbers,
                    doc_path=r.doc_path,
                )
                df = flatten(df)
                if r.doc_path is None:
                    df = cache.put(df, idx)
            df.createOrReplaceTempView(r.view_name)
            dtypes.extend(df.dtypes)
            # mixed-typed ingest shapes (JSON/Avro unions, tagged by the
            # readers) get SQLite's dynamic-typing treatment downstream —
            # including the cross-type ORDER BY key
            varied.extend(f.name for f in df.schema.fields
                          if (f.metadata or {}).get("dsq_varied"))
            if first_view is None:
                first_view = r.view_name
    from dsq_spark.sqlexpr import spark_schema_kinds

    return first_view, spark_schema_kinds(dtypes, varied)


def run(argv: list[str], spark=None) -> int:
    """Run one dsq call.  What the call sets for itself, --strict-json's
    DSQ_STRICT_JSON and --verbose's reports from the readers, lasts only
    until it returns, so a later call in the same session is not changed."""
    strict = os.environ.get("DSQ_STRICT_JSON")
    sources = logging.getLogger("dsq_spark.sources")
    level, report, spooled = sources.level, None, None
    try:
        a = parse_args(argv)
        if a is None:
            return 0
        if a.verbose:
            report = logging.StreamHandler(sys.stderr)
            report.setFormatter(logging.Formatter("dsq-spark: %(message)s"))
            sources.addHandler(report)
            sources.setLevel(logging.INFO)
        if a.piped_mimetype:
            spooled = _spool_stdin(a.piped_mimetype)
            a.files.insert(0, spooled)
        return _run(a, spark)
    finally:
        if spooled is not None:
            os.remove(spooled)
        if report is not None:
            sources.removeHandler(report)
            sources.setLevel(level)
        if strict is None:
            os.environ.pop("DSQ_STRICT_JSON", None)
        else:
            os.environ["DSQ_STRICT_JSON"] = strict


def _run(a: Args, spark) -> int:
    if not a.files:
        print("No input files.", file=sys.stderr)
        return 1

    if spark is None:
        from dsq_spark import session

        size = _input_bytes(a)
        spark = session.get_spark("dsq-spark-cli", input_bytes=size, statement=a.query)
        if a.verbose and session.cds_state:
            print(f"dsq-spark: class-data archive: {session.cds_state}", file=sys.stderr)
        if a.verbose:
            print(f"dsq-spark: driver JIT: {session.driver_jit(spark, size, a.query)}",
                  file=sys.stderr)

    if a.schema:
        # Schema dump describes the RAW input shape (pre-flatten), like the
        # reference's ShapeFromFile (main.go:103-117).
        raw = read_file(spark, a.files[0], mimetype=a.piped_mimetype,
                        convert_numbers=a.convert_numbers)
        (schema_pretty if a.pretty else schema_json)(raw)
        return 0

    if a.interactive:
        return _repl(spark, a)

    if a.query is None:
        # Query-less conversion dump (SURVEY K4, main.go:661-665).
        df = flatten(read_file(spark, a.files[0], mimetype=a.piped_mimetype,
                               convert_numbers=a.convert_numbers))
        (pretty_table if a.pretty else dump_json)(df)
        return 0

    refs = extract_table_refs(a.query)
    _, kinds = _ingest(spark, a, refs)
    df = _sql(spark, *_prepare(spark, a, a.query, kinds))
    (pretty_table if a.pretty else dump_json)(df)
    return 0


def _prepare(spark, a: Args, query: str, kinds) -> tuple[str, frozenset[str]]:
    """Rewrite one statement and register the function library if it
    calls any of it (functions.register_all); --verbose reports the
    rewrite and what was registered on stderr."""
    rewritten, dquoted = rewrite_query_tracked(query, kinds)
    from dsq_spark.functions import register_all

    registered = register_all(spark, sql=rewritten)
    if a.verbose:
        print(f"dsq-spark: rewritten SQL: {rewritten}", file=sys.stderr)
        print("dsq-spark: functions registered: "
              + (", ".join(registered) or "(none)"), file=sys.stderr)
    return rewritten, dquoted


def _sql(spark, sql: str, dquoted: frozenset[str] = frozenset()):
    """spark.sql, except WITH RECURSIVE routes to the iterative evaluator
    (Spark has no recursive CTE; SQLite does — dsq_spark.recursive).

    `dquoted` holds identifier names that came from double-quoted tokens:
    if one fails column resolution it is retried as a string literal,
    mirroring SQLite's double-quote fallback (dsq queries rely on it —
    the reference's own suite uses split_part(x, ".", -1)).  What pyspark
    logs about a first attempt that the fallback then answers is dropped;
    a statement that fails for real logs it as usual."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from dsq_spark.recursive import parse_recursive, run_recursive

    if parse_recursive(sql) is not None:
        return run_recursive(spark, sql)
    if not dquoted:
        return spark.sql(sql)
    held = _HeldLog()
    try:
        with held:
            return spark.sql(sql)
    except AnalysisException as e:
        name = _unresolved_column(e)
        if name is not None and name in dquoted:
            # only the identifier tokens: a string literal that happens to
            # contain `name` keeps its text
            ident, lit = f"`{name}`", "'" + name.replace("'", "''") + "'"
            out, pos = [], 0
            for a, b in opaque_spans(sql):
                if sql[a:b] == ident:
                    out += [sql[pos:a], lit]
                    pos = b
            if out:
                held.records.clear()
                return _sql(spark, "".join(out) + sql[pos:],
                            frozenset(n for n in dquoted if n != name))
        raise
    finally:
        held.release()


class _HeldLog(logging.Filter):
    """Within `with`, holds the records of pyspark's SQLQueryContextLogger
    (it logs every error with a SQL query context as it is raised, with
    the JVM stack trace) instead of printing them; release() prints what
    it still holds."""

    def __init__(self):
        super().__init__()
        self.records: list[logging.LogRecord] = []
        from pyspark.logger import PySparkLogger

        self.logger = PySparkLogger.getLogger("SQLQueryContextLogger")

    def filter(self, record):
        self.records.append(record)
        return False

    def __enter__(self):
        self.logger.addFilter(self)

    def __exit__(self, *exc):
        self.logger.removeFilter(self)

    def release(self) -> None:
        for record in self.records:
            self.logger.handle(record)


def _unresolved_column(e) -> str | None:
    try:
        if (e.getCondition() or "").startswith("UNRESOLVED_COLUMN"):
            obj = (e.getMessageParameters() or {}).get("objectName", "")
            if obj.startswith("`") and obj.endswith("`") and "`.`" not in obj[1:-1]:
                return obj[1:-1]
    except Exception:
        pass
    return None


HISTORY_FILE = "~/dsq_history"  # same path the reference persists (main.go:268-326)

# Keyword set for REPL tab completion (reference main.go:268-326 configures
# its readline with SQL completion); table/column names are added at REPL
# start from the registered views.
_SQL_KEYWORDS = [
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
    "ON", "USING", "AS", "AND", "OR", "NOT", "IN", "EXISTS", "BETWEEN",
    "LIKE", "GLOB", "REGEXP", "IS", "NULL", "CASE", "WHEN", "THEN", "ELSE",
    "END", "CAST", "DISTINCT", "UNION", "INTERSECT", "EXCEPT", "ALL",
    "WITH", "RECURSIVE", "COUNT", "SUM", "AVG", "MIN", "MAX", "TOTAL",
    "GROUP_CONCAT", "COALESCE", "NULLIF", "IIF", "ASC", "DESC", "VALUES",
]


def _make_completer(spark):
    """Word completer over SQL keywords + registered view/column names."""
    words = set(_SQL_KEYWORDS)
    try:
        for v in spark.catalog.listTables():
            words.add(v.name)
            try:
                words.update(spark.table(v.name).columns)
            except Exception:
                pass
    except Exception:
        pass
    ordered = sorted(words)

    def complete(text: str, state: int):
        matches = [w for w in ordered if w.lower().startswith(text.lower())]
        return matches[state] if state < len(matches) else None

    return complete


def _repl(spark, a: Args) -> int:
    """Readline REPL (reference main.go:268-326): ingestion happens once,
    queries run against the persistent views until `exit`. History is loaded
    from and saved to ~/dsq_history like the reference's chzyer/readline
    config."""
    _, kinds = _ingest(spark, a, [TableRef(i, None) for i in range(len(a.files))])
    hist = os.path.expanduser(os.environ.get("DSQ_HISTORY_FILE", HISTORY_FILE))
    try:
        import readline
        try:
            readline.read_history_file(hist)
        except OSError:
            pass  # first run: no history yet
        readline.set_completer(_make_completer(spark))
        readline.set_completer_delims(" \t\n,();=<>")
        readline.parse_and_bind("tab: complete")
    except ImportError:
        readline = None
    try:
        while True:
            try:
                line = input("dsq> ").strip()
            except EOFError:
                return 0
            if not line:
                continue
            if line in ("exit", "quit"):
                return 0
            try:
                pretty_table(_sql(spark, *_prepare(spark, a, line, kinds)))
            except Exception as e:  # show error, keep looping (main.go:301-306)
                print(f"Error: {e}", file=sys.stderr)
    finally:
        if readline is not None:
            try:
                readline.write_history_file(hist)
            except OSError:
                pass


def main() -> None:
    sys.exit(run(sys.argv[1:]))


if __name__ == "__main__":
    main()
