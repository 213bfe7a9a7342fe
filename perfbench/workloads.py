"""The benchmark's workloads: closed loops with one client, one pass at a time.

clean_loop     the paper's user session through the public DataCleaner
               API, once on lineitem_dirty and once on events_dirty:
               profile, suggest, each top fix with a 20-row preview, a
               re-check, the session's SQL export and a transactional
               publish with a preview of the published snapshot.
               Dominated by the api, functions.quantiles and
               operators.profiling eager jobs; no Python kernels.
curation_llm   an LLM-dataset curation pass over registry ops: dedup,
               MinHash and hyperplane LSH, kNN and token counts. It
               never enters api or quantiles, so it is the no-change
               control for clean_loop work.

A pass returns its step timings; with ``keep=True`` it also returns what
the output check needs. Timed actions compute every output column (the
noop sink), never ``count()``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

CURATION_OPS = (
    "l1_exact_dedup",
    "l2f_minhash_lsh_md5",
    "l3_knn_exact",
    "l3k_knn_lsh_md5",
    "l4e_embed_neardup_lsh_md5",
    "l10_token_count",
    "pipeline_corpus_curation",
)

#: fix order of DataCleaner.autofix: converters before fillers, outlier
#: handling after both, dedup last
FIX_ORDER = {"mojibake": -1, "string_mismatch": 0, "dates": 0, "units": 0, "variants": 0,
             "pii": 1, "missing": 2, "outliers": 3, "duplicates": 4}


class Context:
    """What a pass needs: the session, the generated inputs, the tracer of
    a traced pass (or None) and the tally of attempted and failed
    operations."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []

    @contextmanager
    def step(self, name: str, layer: str, times: dict, phase: str, op: str):
        """Time one operation into ``times[phase]``; inside a traced pass it
        is also a span of ``op`` (a registry op, or the session's table)."""
        self.attempted += 1
        t0 = time.perf_counter()
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name, layer, op):
                yield
        times[phase] = times.get(phase, 0.0) + time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# clean_loop
# ---------------------------------------------------------------------------


def _session(ctx: Context, table: str, root: str, times: dict, keep: bool) -> dict | None:
    from ipydataclean_spark.api import DataCleaner
    from ipydataclean_spark.operators import qhelp
    from ipydataclean_spark.sources.txlog import TxTable

    spark = ctx.spark
    dirty = (qhelp.lineitem_dirty if table == "lineitem" else qhelp.events_dirty)(spark, ctx.data_dir)
    cleaner = DataCleaner(dirty)
    with ctx.step("api.profile", "api", times, "profile", table):
        cleaner.profile()
    with ctx.step("api.suggest", "api", times, "problems", table):
        suggestions = cleaner.suggest()
    checked = None  # the export and frame the check compares, and the fixes after them
    for item in sorted(suggestions, key=lambda d: (FIX_ORDER[d["problem"]], d["column"])):
        fix = item["fixes"][0]
        if item["problem"] == "missing" and cleaner.df.schema[item["column"]].dataType.typeName() == "string":
            fix = "fill_mode"  # aggregate fills need a numeric column
        if keep and checked is None and item["problem"] == "outliers":
            checked = {"sql": cleaner.to_sql(f"{table}_dirty"), "df": cleaner.df, "after": []}
        if checked is not None:
            checked["after"].append((item["column"], fix))
        with ctx.step("step.fix", "bench", times, "fix", table):
            cleaner.apply_fix(item["column"], item["problem"], fix)
        with ctx.step("api.preview", "exec", times, "fix", table):
            cleaner.df.limit(20).collect()
    with ctx.step("step.recheck", "bench", times, "problems", table):
        left = cleaner.problems()
    if left:
        ctx.fail(f"clean_loop/{table}: re-check found {left}")
    with ctx.step("step.export", "bench", times, "publish", table):
        sql = cleaner.to_sql(f"{table}_dirty")
    with ctx.step("step.publish", "bench", times, "publish", table):
        if table == "lineitem":
            tx = TxTable.create(spark, root, cleaner.df)
        else:
            tx = TxTable.create(spark, root, dirty)
            cleaner.commit_to(tx, key="event_id")
    with ctx.step("api.preview_published", "exec", times, "publish", table):
        tx.read().limit(20).collect()
    if not keep:
        return None
    if checked is None:
        checked = {"sql": sql, "df": cleaner.df, "after": []}
    return {"cleaner": cleaner, "tx": tx, "checked": checked}


def clean_loop_pass(ctx: Context, pass_dir: str, keep: bool) -> tuple[dict, dict]:
    times: dict[str, float] = {}
    outputs: dict = {}
    for table in ("lineitem", "events"):
        try:
            out = _session(ctx, table, _fresh_dir(os.path.join(pass_dir, table)), times, keep)
        except Exception as e:  # noqa: BLE001 - a failed session is counted and reported
            ctx.fail(f"clean_loop/{table}: {type(e).__name__}: {e}")
            continue
        if out is not None:
            outputs[table] = out
    return times, outputs


def _compare(ctx: Context, what: str, rel, df) -> None:
    """DuckDB relation ``rel`` must hold exactly the rows of Spark frame ``df``."""
    from tools.verify_local import normalize, values_equal

    cols, want = normalize(rel.fetchall(), list(rel.columns))
    got_cols, got = normalize([tuple(r) for r in df.collect()], df.columns)
    if got_cols != cols:
        ctx.fail(f"{what}: DuckDB columns {cols} vs cleaned frame {got_cols}")
    elif not values_equal(got, want)[0]:
        diff = next((g, w) for g, w in zip(got, want) if g != w) if len(got) == len(want) else None
        ctx.fail(f"{what}: DuckDB rows differ from the cleaned frame "
                 f"({len(want)} vs {len(got)} rows; first differing pair {diff})")


def _tukey_fences(con, table: str, col: str, k: float) -> tuple[float, float]:
    """Tukey fences of ``col``: quartiles interpolated between neighbouring
    order statistics at rank (n - 1) * q."""
    vals = [v for (v,) in con.sql(f"SELECT {col} FROM {table} WHERE {col} IS NOT NULL ORDER BY {col}").fetchall()]

    def quantile(q: float) -> float:
        r = (len(vals) - 1) * q
        k0 = int(r)
        return vals[k0] if k0 == len(vals) - 1 else vals[k0] + (vals[k0 + 1] - vals[k0]) * (r - k0)

    q1, q3 = quantile(0.25), quantile(0.75)
    return q1 - k * (q3 - q1), q3 + k * (q3 - q1)


def clean_loop_check(ctx: Context, outputs: dict, con) -> None:
    """Per session, three exact comparisons with DuckDB over the same dirty
    table (the re-check is asserted inside every pass):

    - the session's own SQL export, taken just before its outlier fixes,
      must give the rows of the cleaned frame at that point;
    - DuckDB then clips each outlier column, in fix order, at the Tukey
      fences of its order statistics and must give the rows of the final
      cleaned frame (the fences interpolate as ``exact_quantiles`` does;
      DuckDB's QUANTILE_CONT rounds differently in the last bit);
    - the TxTable snapshot the session published must hold those rows.

    The export's clip steps are not run here: ``to_sql`` writes a clip
    bound as a bare decimal literal, which DuckDB reads as DECIMAL and
    rounds on the cast to DOUBLE, so the clipped column differs in its
    last bit for some bounds (a known program defect)."""
    from ipydataclean_spark.operators import dirty

    dirty_sql = {"lineitem": dirty.lineitem_dirty_sql(), "events": dirty.events_dirty_sql()}
    for table, out in outputs.items():
        checked, cleaned = out["checked"], out["cleaner"].df
        ctx.attempted += 1
        try:
            con.execute(f"CREATE OR REPLACE VIEW {table}_dirty AS {dirty_sql[table]}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE {table}_c0 AS {checked['sql']}")
        except Exception as e:  # noqa: BLE001 - an export DuckDB cannot run fails the check
            ctx.fail(f"clean_loop/{table}: DuckDB could not run the SQL export: {e}")
            continue
        _compare(ctx, f"clean_loop/{table} SQL export", con.sql(f"SELECT * FROM {table}_c0"), checked["df"])
        ctx.attempted += 1
        for i, (col, fix) in enumerate(checked["after"]):
            if fix != "clip":
                ctx.fail(f"clean_loop/{table}: no DuckDB oracle for {fix} after the outlier fixes")
                break
            lo, hi = _tukey_fences(con, f"{table}_c{i}", col, out["cleaner"].outlier_k)
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE {table}_c{i + 1} AS SELECT * REPLACE "
                f"(GREATEST(LEAST({col}, CAST('{hi!r}' AS DOUBLE)), CAST('{lo!r}' AS DOUBLE)) AS {col}) "
                f"FROM {table}_c{i}"
            )
        else:
            last = len(checked["after"])
            _compare(ctx, f"clean_loop/{table} outlier clips", con.sql(f"SELECT * FROM {table}_c{last}"), cleaned)
        ctx.attempted += 1
        snap = out["tx"].read().select(*cleaned.columns)
        if not (cleaned.exceptAll(snap).isEmpty() and snap.exceptAll(cleaned).isEmpty()):
            ctx.fail(f"clean_loop/{table}: TxTable snapshot differs from the cleaned frame")


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------


def registry_pass(ctx: Context, ops: tuple[str, ...], keep: bool) -> tuple[dict, dict]:
    """Each op: its query fn (driver-side construction plus its eager jobs),
    then the timed action. ``keep`` collects the rows for the check."""
    from ipydataclean_spark.registry import QUERIES

    times: dict[str, float] = {}
    outputs: dict = {}
    for op in ops:
        try:
            with ctx.step(f"{op}.build", "registry", times, f"{op}.build", op):
                df = QUERIES[op]["fn"](ctx.spark, ctx.data_dir)
            with ctx.step(f"{op}.action", "exec", times, f"{op}.action", op):
                if keep:
                    rows = [tuple(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed op is counted and reported
            ctx.fail(f"{op}: {type(e).__name__}: {e}")
            continue
        if keep:
            outputs[op] = (df.columns, df.schema, rows)
    return times, outputs


def registry_check(ctx: Context, outputs: dict, con) -> None:
    """Each op's rows against its DuckDB oracle on the same files."""
    from ipydataclean_spark.registry import QUERIES
    from tools.verify_local import canon_duck_type, canon_spark_type, normalize, values_equal

    for op, (cols, schema, rows) in outputs.items():
        ctx.attempted += 1
        try:
            rel = con.sql(QUERIES[op]["oracle"])
            ocols = list(rel.columns)
            otypes = dict(zip(ocols, [canon_duck_type(t) for t in rel.types]))
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001 - an oracle error fails the op
            ctx.fail(f"{op}: oracle error {e}")
            continue
        stypes = {f.name: canon_spark_type(f.dataType) for f in schema.fields}
        if sorted(cols) != sorted(ocols):
            ctx.fail(f"{op}: columns {sorted(cols)} vs oracle {sorted(ocols)}")
        elif any(stypes[c] != otypes[c] for c in cols):
            ctx.fail(f"{op}: types {stypes} vs oracle {otypes}")
        elif not values_equal(normalize(rows, cols)[1], normalize(orows, ocols)[1])[0]:
            ctx.fail(f"{op}: {len(rows)} rows differ from the oracle's {len(orows)}")


WORKLOADS = {
    "clean_loop": (lambda ctx, d, keep: clean_loop_pass(ctx, d, keep), clean_loop_check),
    "curation_llm": (lambda ctx, d, keep: registry_pass(ctx, CURATION_OPS, keep), registry_check),
}
