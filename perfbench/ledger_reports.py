"""``ledger_reports``: one accountant's long-lived interactive session.

A closed loop with one client: each request is options in, rendered
HTML lines out — build the frame through the engine layers, plan,
collect, turn rows into report lines, assemble (hierarchy, sort,
totals) and render. After each request the frame's pins are released
and the session's cache is never cleared, as in a long-lived service.

The warm-up sends every request kind once with a catalog entry's
parameters, hash-checked against that entry's DuckDB oracle. The
measured sequence is a seeded shuffle of complete rounds; a round holds
every kind once with varied parameters (period, comparisons, domain
filter, company scope, as-of date) plus the catalog general ledger with
horizontal groups, also oracle-checked. The parameters cycle with the
round number, not the seed, so runs of different seeds send the same
request mix over different ledgers. Every response digest must
repeat whenever the same request recurs, in this run or an earlier run
of the same seed over the same engine code.
"""

from __future__ import annotations

import json
import os
import random
import time

from . import gen, harness

N_ORDERS = 15_000  # ~60k ledger lines
KINDS = ("gl_sums", "gl_detail", "trial_balance", "aged", "exec_summary",
         "account_codes", "cross_report", "hierarchy")
CATALOG_YEAR = 1997
AGED_DATES = ("1997-03-31", "1998-06-01", "1999-09-30", "2000-12-31")
DOMAINS = (
    [("account_code", "=like", "1%")],
    ["|", ("account_code", "=like", "6%"), ("account_code", "=like", "7%")],
    [("tag_name", "in", ["1-URGENT", "2-HIGH"])],
    ["!", ("tag_sign", "=", "+")],
)
COMPANY_SCOPES = (None, [0, 1], [2])
E3_FORMULAS = ["1", "10\\(104,106)", "1D + 3 - 4C", "2\\(29)C", "1 + 9"]


def _digest(cols: list[str], rows: list[tuple]) -> str:
    from tools.check import table_hash

    return table_hash(cols, rows)[0]


class LedgerReports:
    name = "ledger_reports"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.failures: list[str] = []
        self.phase = {k: 0.0 for k in ("build_s", "plan_s", "exec_s", "assemble_s", "render_s")}
        self.items_per_op = 0
        self.digests: dict[str, str] = {}
        self.oracle: dict[str, str] = {}
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.digest_file = os.path.join(
            os.path.dirname(work), f"digests-{self.name}-{seed}-{harness.code_version(root)}.json")
        self.rng = random.Random(seed)
        self.plan: list[dict] = []

    # -- inputs -------------------------------------------------------------

    def generate(self, out_dir: str) -> dict:
        return {"tables": gen.write_catalog(out_dir, self.seed, N_ORDERS)}

    def use_inputs(self, out_dir: str, counts: dict) -> None:
        self.data = out_dir
        self.items_per_op = counts["tables"]["lineitem"]

    # -- requests -----------------------------------------------------------

    @staticmethod
    def _catalog_request(kind: str, hg: bool = False) -> dict:
        return {"kind": kind, "year": CATALOG_YEAR, "n_cmp": 1, "domain": None,
                "companies": None, "as_of": "1998-06-01", "hg": hg}

    @staticmethod
    def _custom_request(kind: str, rnd: int) -> dict:
        """Parameters cycled by kind and round; the horizontal-group
        variant of the GL is always taken here."""
        j = KINDS.index(kind) + rnd
        return {"kind": kind, "year": (1996, 1997, 1998, 1999)[j % 4], "n_cmp": 2 + j % 2,
                "hg": True, "domain": DOMAINS[j % len(DOMAINS)],
                "companies": COMPANY_SCOPES[j % len(COMPANY_SCOPES)],
                "as_of": AGED_DATES[j % len(AGED_DATES)]}

    def round_size(self) -> int:
        return len(KINDS) + 1

    def _catalog_name(self, req: dict) -> str | None:
        plain = req["domain"] is None and req["companies"] is None
        year_ok = req["year"] == CATALOG_YEAR
        kind = req["kind"]
        if kind == "gl_sums" and plain and year_ok and req["n_cmp"] == 1:
            return "hg_column_groups" if req["hg"] else "gl_report"
        if kind == "trial_balance":
            return "tb_report"
        if kind == "aged" and req["as_of"] == "1998-06-01":
            return "aged_report"
        if kind == "exec_summary" and plain and year_ok:
            return "es_report"
        if kind == "account_codes" and plain and year_ok:
            return "e3_account_codes"
        return None

    def _ledger(self, req: dict, spread: bool = False):
        from etl_staging_spark import domain
        from etl_staging_spark.engines import ledger, options

        t = self.tracer
        with t.span("engines", "move_lines"):
            led = ledger.move_lines(self.spark, self.data, spread=spread)
        if req["domain"] is not None:
            with t.span("domain", "compile_domain"):
                led = led.where(domain.compile_domain(req["domain"]))
        if req["companies"] is not None:
            with t.span("engines", "company_scope_filter"):
                led = led.where(options.company_scope_filter({"companies": req["companies"]}))
        return led

    def _options(self, req: dict, n_cmp: int | None = None) -> dict:
        from etl_staging_spark.engines import options

        y = req["year"]
        with self.tracer.span("engines", "options"):
            opts = options.make_options(f"{y}-01-01", f"{y}-12-31")
            if n_cmp:
                opts = options.build_comparison(opts, "previous_period", n_cmp)
        return opts

    def _build(self, req: dict):
        """The request's result frame, or a driver-side row list for the
        engines that evaluate formulas on the driver."""
        from pyspark.sql import functions as F

        t = self.tracer
        kind = req["kind"]
        if kind == "gl_sums":
            from etl_staging_spark.reports.general_ledger import gl_sums

            opts = self._options(req, req["n_cmp"])
            if req["hg"]:
                opts["horizontal_groups"] = {"field": "company_id", "values": [0, 1, 2]}
            led = self._ledger(req, spread=req["hg"])
            with t.span("reports", "gl_sums"):
                return gl_sums(led, opts)
        if kind == "gl_detail":
            from etl_staging_spark.reports.general_ledger import gl_detail

            opts = self._options(req, 1)
            led = self._ledger(req)
            with t.span("reports", "gl_detail"):
                return gl_detail(led, opts)
        if kind == "trial_balance":
            from etl_staging_spark.queries.catalog_reports import tb_report

            with t.span("reports", "trial_balance"):
                return tb_report(self.spark, self.data)
        if kind == "aged":
            from etl_staging_spark import tables
            from etl_staging_spark.reports.aged_partner import aged_receivable

            with t.span("tables", "load"):
                orders = tables.load(self.spark, self.data, "orders")
                lineitem = tables.load(self.spark, self.data, "lineitem")
            with t.span("reports", "aged_receivable"):
                return aged_receivable(orders, lineitem, req["as_of"])
        if kind == "exec_summary":
            from etl_staging_spark.reports.executive_summary import executive_summary

            opts = self._options(req)
            led = self._ledger(req)
            with t.span("reports", "executive_summary"):
                return executive_summary(self.spark, led, opts)
        if kind == "account_codes":
            from etl_staging_spark.engines.account_codes import evaluate_formulas

            opts = self._options(req)
            led = self._ledger(req)
            with t.span("engines", "evaluate_formulas"):
                return evaluate_formulas(led, opts, E3_FORMULAS)
        if kind == "cross_report":
            from etl_staging_spark.engines import aggregation
            from etl_staging_spark.engines import cross_report as xr

            opts = self._options(req)
            led = self._ledger(req)
            registry = {ln.key: ln for ln in (
                xr.Line("CUR_ASSETS", "domain", [("account_code", "=like", "1%")]),
                xr.Line("CUR_LIAB", "domain", [("account_code", "=like", "2%")]),
                xr.Line("NET_ASSETS", "aggregation", "CUR_ASSETS.balance - CUR_LIAB.balance"),
            )}
            report = [
                xr.Line("REV", "domain", [("account_code", "=like", "6%")]),
                xr.Line("COST", "domain", [("account_code", "=like", "7%")]),
                xr.Line("RATIO", "aggregation", "REV.balance / NET_ASSETS.balance * 100",
                        subformula=xr.CROSS_REPORT, date_scope="from_beginning"),
            ]
            with t.span("engines", "evaluate_report"):
                vals = xr.evaluate_report(led, opts, report, registry)
            with t.span("engines", "aggregation.evaluate"):
                vals.update(aggregation.evaluate(
                    {"REV.balance": vals.get("REV.balance", 0.0),
                     "COST.balance": vals.get("COST.balance", 0.0)},
                    {"GM.balance": "REV.balance - COST.balance",
                     "GMPCT.balance": "GM.balance / REV.balance * 100"},
                    {"GMPCT.balance": "round(2)"}))
            return ["line", "result"], sorted((k, float(v)) for k, v in vals.items())
        if kind == "hierarchy":
            from etl_staging_spark.engines.options import date_scope_filter
            from etl_staging_spark.reports.hierarchy import hierarchy_rollup

            opts = self._options(req)
            led = self._ledger(req)
            with t.span("engines", "per_account_totals"):
                per_acct = (led.where(date_scope_filter(opts, "strict_range"))
                            .groupBy("account_code")
                            .agg(F.sum("conv").alias("total"), F.count("*").alias("n_lines")))
            with t.span("reports", "hierarchy_rollup"):
                return hierarchy_rollup(per_acct, levels=(1, 2)).withColumn(
                    "total", F.col("total").cast("double"))
        raise ValueError(f"unknown request kind {kind!r}")

    @staticmethod
    def _account_lines(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[dict]]:
        """Report lines keyed by the row's code column (account code,
        partner, formula or path) with every numeric column as a value."""
        key_i = 0
        for name in ("groupby", "account_code", "path", "partner_id", "line", "formula"):
            if name in cols:
                key_i = cols.index(name)
                break
        num_i = [i for i, c in enumerate(cols) if i != key_i and rows
                 and all(isinstance(r[i], (int, float)) or r[i] is None for r in rows)]
        by_code: dict[str, list[float]] = {}
        for r in rows:
            acc = by_code.setdefault(str(r[key_i]), [0.0] * len(num_i))
            for j, i in enumerate(num_i):
                acc[j] += float(r[i] or 0.0)
        lines = [{"code": code, "name": f"{code}", "columns": [{"no_format": v} for v in vals]}
                 for code, vals in by_code.items()]
        return [cols[i] for i in num_i], lines

    def request(self, req: dict) -> int:
        from etl_staging_spark import tables
        from etl_staging_spark.reports import assemble, html

        t = self.tracer
        t0 = time.perf_counter()
        built = self._build(req)
        t1 = time.perf_counter()
        if isinstance(built, tuple):
            cols, rows = built
            t2 = t3 = t1
        else:
            built._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with t.span("reports", "collect"):
                cols = built.columns
                rows = [tuple(r) for r in built.collect()]
            t3 = time.perf_counter()
        with t.span("reports", "assemble"):
            headers, acct_lines = self._account_lines(cols, rows)
            classes = sorted({ln["code"][:1] for ln in acct_lines})
            groups = [{"prefix": c, "name": f"Class {c}", "parent": None} for c in classes]
            prefixes = sorted({ln["code"][:2] for ln in acct_lines if len(ln["code"]) > 2})
            groups += [{"prefix": p, "name": f"Group {p}", "parent": p[:1]} for p in prefixes]
            lines = assemble.create_hierarchy(acct_lines, groups)
            lines = assemble.sort_lines(lines, 1 if headers else 0)
            lines = assemble.add_totals_below_sections(lines)
        t4 = time.perf_counter()
        with t.span("reports", "render_report_html"):
            page = html.render_report_html(req["kind"], headers, lines)
        t5 = time.perf_counter()
        if not isinstance(built, tuple):
            with t.span("tables", "release_pinned"):
                tables.release_pinned(built)
        for k, v in (("build_s", t1 - t0), ("plan_s", t2 - t1), ("exec_s", t3 - t2),
                     ("assemble_s", t4 - t3), ("render_s", t5 - t4)):
            self.phase[k] += v
        self._check(req, cols, rows, page)
        return self.items_per_op

    def _check(self, req: dict, cols: list[str], rows: list[tuple], page: str) -> None:
        key = json.dumps(req, sort_keys=True)
        digest = _digest(cols, rows)
        name = self._catalog_name(req)
        if name is not None and name in self.oracle and self.oracle[name] != digest:
            self.failures.append(f"{name}: result differs from the DuckDB oracle")
        prev = self.digests.setdefault(key, digest)
        if prev != digest:
            self.failures.append(f"{req['kind']}: digest changed between identical requests")
        if not rows or "<table" not in page:
            self.failures.append(f"{req['kind']}: empty report")

    # -- lifecycle ----------------------------------------------------------

    def compute_oracles(self) -> None:
        """DuckDB twin of every catalog entry a request can equal."""
        import duckdb

        import __spark_entry__ as entry
        from etl_staging_spark.tables import TABLES

        sqls = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in ("gl_report", "hg_column_groups", "tb_report", "aged_report",
                         "es_report", "e3_account_codes"):
                res = con.execute(sqls[name])
                self.oracle[name] = _digest([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                self.digests.update(json.load(f))

    def warm(self) -> None:
        for kind in KINDS:
            self.request(self._catalog_request(kind))
        self.phase = dict.fromkeys(self.phase, 0.0)

    def op(self, i: int) -> int:
        if i % self.round_size() == 0:
            # a round: every kind once with cycled parameters, plus the
            # catalog GL with horizontal groups (the warm-up has checked
            # every other catalog request), in seeded order
            rnd = i // self.round_size()
            self.plan = ([self._catalog_request("gl_sums", hg=True)]
                         + [self._custom_request(k, rnd) for k in KINDS])
            self.rng.shuffle(self.plan)
        return self.request(self.plan[i % self.round_size()])

    def finish(self) -> None:
        with open(self.digest_file, "w") as f:
            json.dump(self.digests, f, sort_keys=True)

    def layer_extras(self, jobs_by_span: dict, spans: list[dict]) -> dict[str, float]:
        return {f"reports.{k}": v for k, v in self.phase.items()}
