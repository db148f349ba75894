"""Session-conf write lint: engine code must not write the caller's
Spark session conf, so two queries can share one session concurrently.
A set-and-restore window on a shared session is a race even with a
try/finally: a query planned on another thread inside the window sees
the temporary value.

Every ``<x>.conf.set(`` / ``<x>.conf.unset(`` call under
``mapreduce_assignments_spark/`` must sit in an ALLOWLIST entry below,
keyed by (module path, enclosing function, receiver):

- the ``load_table`` entry-contract pins (fixed values, never
  restored — no window opens);
- ``graph._loop_tuning``, the one documented set-and-restore window
  (there is no per-query AQE switch for the iteration loops);
- the private replay session ``workloads._replay_session`` creates
  itself (fixed values, set once at creation).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "mapreduce_assignments_spark"

ALLOWLIST = {
    ("sources/tables.py", "_load_table_uncached", "spark"),
    ("operators/graph.py", "_loop_tuning.__enter__", "self.spark"),
    ("operators/graph.py", "_loop_tuning.__exit__", "self.spark"),
    ("workloads.py", "_replay_session", "replay"),
}


def conf_write_sites(source: str) -> list[tuple[str, str, int]]:
    """(enclosing qualified name, receiver, line) of every conf write."""
    sites: list[tuple[str, str, int]] = []

    def visit(node: ast.AST, scope: tuple[str, ...]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = (*scope, node.name)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            receiver = ast.unparse(node.func.value.value)
            sites.append((".".join(scope), receiver, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(source), ())
    return sites


def _package_sites() -> dict[tuple[str, str, str], list[int]]:
    found: dict[tuple[str, str, str], list[int]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for scope, receiver, line in conf_write_sites(path.read_text()):
            found.setdefault((rel, scope, receiver), []).append(line)
    return found


def test_no_session_conf_writes_outside_allowlist():
    bad = {k: v for k, v in _package_sites().items() if k not in ALLOWLIST}
    assert not bad, (
        "engine code writes session conf outside the allowlist — use a "
        "per-write/per-read option, or run on a private "
        f"spark.newSession(): {bad}"
    )


def test_allowlist_has_no_dead_entries():
    dead = sorted(ALLOWLIST - set(_package_sites()))
    assert not dead, f"ALLOWLIST entries with no conf write: {dead}"


def test_lint_detects_set_and_restore_windows():
    """The lint must fire on the shapes it exists to stop: a guard
    flipping AQE on the caller's session, a decorator writing the
    caller's session, and an unset."""
    sites = conf_write_sites(
        "def ensure_min_parallelism(df):\n"
        "    spark = df.sparkSession\n"
        "    prev = spark.conf.get('spark.sql.adaptive.enabled')\n"
        "    spark.conf.set('spark.sql.adaptive.enabled', 'false')\n"
        "    try:\n"
        "        return df\n"
        "    finally:\n"
        "        spark.conf.set('spark.sql.adaptive.enabled', prev)\n"
    )
    assert [(s, r) for s, r, _ in sites] == [
        ("ensure_min_parallelism", "spark"),
        ("ensure_min_parallelism", "spark"),
    ]
    sites = conf_write_sites(
        "def _stream_tuned(fn):\n"
        "    def wrapper(spark, sf_dir):\n"
        "        spark.conf.set('spark.sql.shuffle.partitions', '8')\n"
        "        spark.conf.unset('spark.sql.shuffle.partitions')\n"
        "        return fn(spark, sf_dir)\n"
        "    return wrapper\n"
    )
    assert {(s, r) for s, r, _ in sites} == {("_stream_tuned.wrapper", "spark")}
    assert ("_stream_tuned.wrapper", "spark") not in {
        (s, r) for _, s, r in ALLOWLIST
    }
    # reads, per-write options and builder config are not writes
    assert not conf_write_sites(
        "spark.conf.get('k')\n"
        "df.write.option('partitionOverwriteMode', 'dynamic').parquet(p)\n"
        "SparkSession.builder.config('k', 'v')\n"
    )
