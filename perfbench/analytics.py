"""`analytics`: the registry's bench queries, each built and collected.

The input tables are the same in every run, like the repo's fixed test
tables: sf 0.01, generated from DATA_SEED.  (The repo's headline bench
reads sf 0.1; there a run's cold and warm passes do not fit the
benchmark's time budget, see perfbench/README.md.)  The run's seed
orders the queries.  Before the session starts, and outside every
timing, each query's expected result is taken from the registry's
DuckDB oracle; as the tables and the oracle SQL are fixed, the answers
are kept beside the run roots and computed again only when either
changes.  Set-up builds the bucketed layout and runs one warm pass over
all queries (first-use JIT and codegen costs).  The timed phase runs
whole passes over the queries, each pass in a new seeded order, one
query at a time.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import pickle

from harness import Context

SF = 0.01
DATA_SEED = 42


def _matches(expected, columns, rows) -> str | None:
    """None when the Spark rows equal the oracle's, else why not."""
    from tests.oracle_utils import _val_eq, normalize

    if isinstance(expected, Exception):
        return f"oracle failed: {expected}"
    cols, got = normalize(columns, [tuple(r) for r in rows])
    want_cols, want = expected
    if cols != want_cols:
        return f"columns {cols} != oracle {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if not all(_val_eq(x, y) for x, y in zip(a, b)):
            return f"row {i} differs: {a} != {b}"
    return None


class Analytics:
    name = "analytics"

    def generate(self, ctx: Context) -> None:
        from urban_mobility_data_lakehouse_spark.queries import bench_queries

        import gen_tables

        self.specs = sorted(bench_queries().items())
        # op_cpu_ms averages over the first pass only
        self.gated_ops = len(self.specs)
        self.dir = os.path.join(ctx.tmp, "tables")
        ctx.inputs["queries"] = len(self.specs)
        ctx.inputs["sf"] = SF
        ctx.inputs["data_seed"] = DATA_SEED
        ctx.inputs["tables"] = gen_tables.write_tables(
            self.dir, DATA_SEED, SF
        )

    def expect(self, ctx: Context) -> None:
        """The oracle's answer to every query on the generated tables,
        memoised under a key of everything the answers depend on: the
        generator, the scale and seed, and each query's oracle SQL."""
        from tests import oracle_utils

        import gen_tables

        sqls = {}
        for name, spec in self.specs:
            try:  # some oracles read the tables to write their SQL
                sqls[name] = spec.oracle_for(self.dir)
            except Exception as exc:
                sqls[name] = exc
        key = hashlib.sha256(pickle.dumps((
            inspect.getsource(gen_tables), inspect.getsource(oracle_utils),
            SF, DATA_SEED,
            sorted((n, str(s).replace(self.dir, "")) for n, s in sqls.items()),
        ))).hexdigest()[:16]
        path = os.path.join(os.path.dirname(ctx.tmp), f"oracle-{key}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                self.expected = pickle.load(f)
            return
        self.expected = {}
        for name, sql in sqls.items():
            try:
                if isinstance(sql, Exception):
                    raise sql
                cols, rows = oracle_utils.run_oracle(sql, self.dir)
                self.expected[name] = oracle_utils.normalize(cols, rows)
            except Exception as exc:  # reported as a failed check per query
                self.expected[name] = exc
        if not any(isinstance(e, Exception) for e in self.expected.values()):
            with open(path + ".tmp", "wb") as f:
                pickle.dump(self.expected, f)
            os.replace(path + ".tmp", path)

    def setup(self, ctx: Context) -> None:
        from urban_mobility_data_lakehouse_spark.queries.functions_suite import (
            prepare,
        )

        prepare(ctx.spark, self.dir)
        # One warm pass pays class loading, codegen and most JIT
        # compilation (a cold pass takes about 1.6 times a later one).
        order = list(self.specs)
        ctx.rng.shuffle(order)
        for _name, spec in order:
            spec.builder(ctx.spark, self.dir).collect()

    def run(self, ctx: Context):
        def one_pass(_i: int) -> None:
            order = list(self.specs)
            ctx.rng.shuffle(order)
            for name, spec in order:
                with ctx.op(name, "read", query=name) as rec:
                    with ctx.span(f"queries.{name}", stage="build"):
                        df = spec.builder(ctx.spark, self.dir)
                    with ctx.span("queries.collect"):
                        rows = df.collect()
                    rec["df"] = df  # for the plan reading when tracing
                rec.pop("df", None)
                if not rec["ok"]:
                    continue
                why = _matches(self.expected[name], df.columns, rows)
                ctx.check(rec, why is None, why or "")
                rec["n_rows"] = len(rows)

        return ctx.loop(one_pass)
