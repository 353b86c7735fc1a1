"""The options pipeline: runtime query spec for the engine layer.

Ports the reference's options dict + date-scope resolution
(`account_report.py:1389-1456` pipeline, `:606-659` date scopes,
`:1193-1282` column groups) in plain Python — this is query
*construction*, not data processing, so it stays driver-side.

An options dict looks like::

    {
        "date": {"mode": "range", "date_from": "1997-01-01",
                 "date_to": "1997-12-31"},
        "comparison": {"periods": [ ...same shape as date... ]},
        "column_groups": {key: {"forced_options": {...}}},
        "fiscal_year_end": (6, 30),   # optional, default (12, 31)
    }

Fiscal years follow the company's year-end setting — the reference
delegates to ``compute_fiscalyear_dates`` (fiscalyear_last_month /
fiscalyear_last_day on the company); the default (12, 31) keeps the
calendar-year behavior of the fixtures.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

DATE_SCOPES = (
    "strict_range",
    "normal",
    "from_beginning",
    "to_beginning_of_period",
    "from_fiscalyear",
    "to_beginning_of_fiscalyear",
)


def make_options(date_from: str, date_to: str, mode: str = "range",
                 fiscal_year_end: tuple[int, int] = (12, 31)) -> dict:
    opts = {"date": {"mode": mode, "date_from": date_from, "date_to": date_to}}
    if tuple(fiscal_year_end) != (12, 31):
        opts["fiscal_year_end"] = tuple(fiscal_year_end)
    return opts


def _parse(d: str) -> dt.date:
    return dt.date.fromisoformat(d)


def _clamped(year: int, month: int, day: int) -> dt.date:
    """date(year, month, day) with the day clamped into the month (a
    Feb-29 / short-month year-end setting)."""
    while True:
        try:
            return dt.date(year, month, day)
        except ValueError:
            day -= 1


def fiscal_year_bounds(d: dt.date, fy_end: tuple[int, int] = (12, 31)
                       ) -> tuple[dt.date, dt.date]:
    """(start, end) of the fiscal year containing ``d`` — the port of
    ``res.company.compute_fiscalyear_dates`` for the (last_month,
    last_day) setting: the FY ends on the first (month, day) anniversary
    on or after ``d`` and spans one year."""
    month, day = fy_end
    end = _clamped(d.year, month, day)
    if end < d:
        end = _clamped(d.year + 1, month, day)
    start = _clamped(end.year - 1, month, day) + dt.timedelta(days=1)
    return start, end


def fy_of(options: dict) -> tuple[int, int]:
    return tuple(options.get("fiscal_year_end", (12, 31)))


def date_bounds(options: dict, date_scope: str) -> tuple[str | None, str, bool]:
    """(date_from, date_to, allow_include_initial_balance) — the port of
    `_get_date_bounds_info` (`account_report.py:622-659`); the fiscal
    scopes honor options['fiscal_year_end'] (default calendar year)."""
    date_to = options["date"]["date_to"]
    date_from = (
        options["date"]["date_from"] if options["date"]["mode"] == "range" else None
    )
    allow_initial = False

    if date_scope == "strict_range":
        pass
    elif date_scope == "normal":
        allow_initial = True
    elif date_scope == "from_beginning":
        date_from = None
    elif date_scope == "to_beginning_of_period":
        eve = _parse(date_from or date_to) - dt.timedelta(days=1)
        date_to = eve.isoformat()
        date_from = None
    elif date_scope == "from_fiscalyear":
        fy_start, _ = fiscal_year_bounds(_parse(date_to), fy_of(options))
        date_from = fy_start.isoformat()
    elif date_scope == "to_beginning_of_fiscalyear":
        fy_start, _ = fiscal_year_bounds(_parse(date_to), fy_of(options))
        date_to = (fy_start - dt.timedelta(days=1)).isoformat()
        date_from = None
    else:
        raise ValueError(f"unknown date_scope {date_scope!r}")
    return date_from, date_to, allow_initial


def date_scope_filter(options: dict, date_scope: str, date_col: str = "date") -> Column:
    """The Spark predicate for a date scope — port of
    `_get_options_date_domain` (`account_report.py:606-620`). Under
    'normal', rows on balance-sheet accounts (include_initial_balance)
    are kept even before date_from — that is how opening balances flow
    into 'normal'-scoped expressions."""
    from .ledger import is_balance_sheet

    date_from, date_to, allow_initial = date_bounds(options, date_scope)
    # end-of-day bound: the ledger date is a timestamp column
    pred = F.col(date_col) <= f"{date_to} 23:59:59"
    if date_from:
        lower = F.col(date_col) >= date_from
        if allow_initial:
            lower = lower | is_balance_sheet()
        pred = pred & lower
    return pred


def o_date_scope_sql(options: dict, date_scope: str, date_col: str = "date") -> str:
    """DuckDB twin of :func:`date_scope_filter` (led CTE columns)."""
    date_from, date_to, allow_initial = date_bounds(options, date_scope)
    parts = [f"{date_col} <= TIMESTAMP '{date_to} 23:59:59'"]
    if date_from:
        lower = f"{date_col} >= TIMESTAMP '{date_from}'"
        if allow_initial:
            lower = f"({lower} OR CAST(substr(account_code, 1, 1) AS INT) <= 5)"
        parts.append(lower)
    return " AND ".join(parts)


def build_column_groups(options: dict) -> dict[str, dict]:
    """Column groups = the cross product of (current period + comparison
    periods) x horizontal-group values — `account_report.py:1193-1282`.
    Each group carries its own forced options; engines run once per
    group and the results are unioned keyed by column_group_key (the
    A8/U1 pattern).

    Horizontal groups (the reference's report horizontal_group_id, whose
    groupby-field values multiply the column headers) are declared as::

        options["horizontal_groups"] = {"field": "company_id",
                                        "values": [0, 1, 2]}

    and contribute a ``forced_domain`` leaf per value, ANDed into every
    engine predicate for that group — so the group filter rides the same
    pushed-down scan predicate as the date scope."""
    periods = [options["date"]] + options.get("comparison", {}).get("periods", [])
    hg = options.get("horizontal_groups")
    groups: dict[str, dict] = {}
    for i, period in enumerate(periods):
        if not hg:
            groups[f"cg{i}"] = {"forced_options": {"date": period}}
            continue
        for j, value in enumerate(hg["values"]):
            groups[f"cg{i}_hg{j}"] = {
                "forced_options": {
                    "date": period,
                    "forced_domain": [(hg["field"], "=", value)],
                }
            }
    return groups


# ---------------------------------------------------------------------------
# Multi-company scope + variant selection (`account_report.py:1408-1456`
# _init_options: allowed_company_ids -> company scope; the root report's
# variants are filtered by availability_condition and the active
# company's fiscal country picks the one to run).
# ---------------------------------------------------------------------------


def company_scope_filter(options: dict, col: str = "company_id") -> Column:
    """Predicate restricting rows to options['companies'] — a plain IN
    list, so it rides the pushed-down scan predicate. TRUE when no
    company scope is set (single-company behavior)."""
    ids = options.get("companies")
    if not ids:
        return F.lit(True)
    return F.col(col).isin(list(ids))


def select_variant(report_defs: list[dict], country_code: str | None) -> dict:
    """Pick the report variant to run: the def whose
    availability_condition='country' matches the active company's
    fiscal country wins; otherwise fall back to the generic root
    (availability_condition='always' / no country)."""
    generic = None
    for rd in report_defs:
        cond = rd.get("availability_condition", "country")
        if cond == "country" and rd.get("country") == country_code:
            return rd
        if cond == "always" or not rd.get("country"):
            generic = generic or rd
    if generic is None:
        raise ValueError(f"no variant available for country {country_code!r}")
    return generic


def init_report_options(report_defs: list[dict], companies: list[dict],
                        date_from: str, date_to: str, **kw) -> dict:
    """Minimal `_init_options` pipeline: date options + company scope +
    variant selection keyed on the ACTIVE (first selected) company's
    country. ``companies`` rows look like {'id': 0, 'country': 'DE'}."""
    active = companies[0]
    opts = make_options(date_from, date_to, **kw)
    opts["companies"] = [c["id"] for c in companies]
    opts["report"] = select_variant(report_defs, active.get("country"))
    return opts


def group_options(options: dict, group: dict) -> dict:
    """Overlay one column group's forced options on the base options."""
    return {**options, **group.get("forced_options", {})}


# ---------------------------------------------------------------------------
# Period math + comparison generation (account_report.py:348-457,
# _get_dates_period / _get_dates_previous_period / _get_dates_previous_year;
# behavior pinned by the reference's test_account_reports_filters.py).
# Fiscal year = calendar year (this repo's fixture convention), so the
# 'fiscalyear' period type collapses into 'year'.
# ---------------------------------------------------------------------------


def _month_bounds(d: dt.date) -> tuple[dt.date, dt.date]:
    first = d.replace(day=1)
    last = (first + dt.timedelta(days=32)).replace(day=1) - dt.timedelta(days=1)
    return first, last


def _quarter_bounds(d: dt.date) -> tuple[dt.date, dt.date]:
    qm = 3 * ((d.month - 1) // 3) + 1
    first = d.replace(month=qm, day=1)
    last_month = first.replace(month=qm + 2)
    return first, (last_month + dt.timedelta(days=32)).replace(day=1) - dt.timedelta(days=1)


def _year_bounds(d: dt.date) -> tuple[dt.date, dt.date]:
    return d.replace(month=1, day=1), d.replace(month=12, day=31)


_Q_NAMES = {1: "Q1", 2: "Q2", 3: "Q3", 4: "Q4"}


def period_info(date_from: str | None, date_to: str, mode: str = "range",
                period_type: str | None = None,
                fy_end: tuple[int, int] = (12, 31)) -> dict:
    """`_get_dates_period`: detect the period type of [date_from, date_to]
    and build its display label. Types: month / quarter / year /
    fiscalyear / custom; 'single' mode labels as an as-of date. A
    non-calendar ``fy_end`` makes ranges matching the company FY detect
    as 'fiscalyear' (calendar FY keeps detecting as 'year', matching the
    reference's label for Dec-31 companies)."""
    d_to = _parse(date_to)
    d_from = _parse(date_from) if date_from else None
    if not period_type or period_type == "custom":
        if d_from and (d_from, d_to) == _year_bounds(d_to):
            period_type = "year"
        elif (d_from and tuple(fy_end) != (12, 31)
                and (d_from, d_to) == fiscal_year_bounds(d_to, fy_end)):
            period_type = "fiscalyear"
        elif d_from and (d_from, d_to) == _month_bounds(d_to):
            period_type = "month"
        elif d_from and (d_from, d_to) == _quarter_bounds(d_to):
            period_type = "quarter"
        else:
            period_type = "custom"
    if mode == "single":
        string = f"As of {date_to}"
    elif period_type == "year":
        string = str(d_to.year)
    elif period_type == "fiscalyear":
        string = f"FY {d_to.year}"
    elif period_type == "month":
        string = d_to.strftime("%b %Y")
    elif period_type == "quarter":
        string = f"{_Q_NAMES[(d_to.month - 1) // 3 + 1]} {d_to.year}"
    else:
        string = f"From {date_from} to {date_to}"
    out = {
        "mode": mode,
        "period_type": period_type,
        "date_from": d_from.isoformat() if d_from else None,
        "date_to": d_to.isoformat(),
        "string": string,
    }
    if tuple(fy_end) != (12, 31):
        out["fiscal_year_end"] = tuple(fy_end)
    return out


def previous_period(period: dict) -> dict:
    """`_get_dates_previous_period`: shift one period back. The previous
    of a 'custom' range is the month before its start (the reference's
    documented quirk), not a same-length range."""
    ptype, mode = period["period_type"], period["mode"]
    d_from = _parse(period["date_from"] or period["date_to"])
    d_to = d_from - dt.timedelta(days=1)
    if ptype in ("month", "custom"):
        lo, hi = _month_bounds(d_to)
        return period_info(lo.isoformat(), hi.isoformat(), mode, "month")
    if ptype == "quarter":
        lo, hi = _quarter_bounds(d_to)
        return period_info(lo.isoformat(), hi.isoformat(), mode, "quarter")
    if ptype == "year":
        lo, hi = _year_bounds(d_to)
        return period_info(lo.isoformat(), hi.isoformat(), mode, "year")
    if ptype == "fiscalyear":
        fy_end = tuple(period.get("fiscal_year_end", (12, 31)))
        lo, hi = fiscal_year_bounds(d_to, fy_end)
        return period_info(lo.isoformat(), hi.isoformat(), mode, "fiscalyear",
                           fy_end)
    raise ValueError(f"cannot shift period_type {ptype!r}")


def previous_year(period: dict) -> dict:
    """`_get_dates_previous_year`: same period, one year earlier (month
    periods re-snap to month bounds — Feb 29 handling)."""
    ptype, mode = period["period_type"], period["mode"]
    d_to = _parse(period["date_to"])
    d_from = _parse(period["date_from"]) if period["date_from"] else d_to

    def back(d: dt.date) -> dt.date:
        try:
            return d.replace(year=d.year - 1)
        except ValueError:  # Feb 29
            return d.replace(year=d.year - 1, day=28)

    d_from, d_to = back(d_from), back(d_to)
    if ptype == "month":
        d_from, d_to = _month_bounds(d_to)
    return period_info(d_from.isoformat(), d_to.isoformat(), mode, ptype)


def build_comparison(options: dict, cmp_filter: str = "previous_period",
                     number_period: int = 1) -> dict:
    """`_init_options_comparison`: fill options['comparison']['periods']
    with ``number_period`` generated periods, chained backward."""
    base = period_info(
        options["date"].get("date_from"),
        options["date"]["date_to"],
        options["date"].get("mode", "range"),
    )
    shift = previous_period if cmp_filter == "previous_period" else previous_year
    periods, cur = [], base
    for _ in range(number_period):
        cur = shift(cur)
        periods.append(cur)
    return {**options, "date": base, "comparison": {"filter": cmp_filter, "periods": periods}}


# ---------------------------------------------------------------------------
# Fiscal-position filter (multi-VAT): `_init_options_fiscal_position` +
# `_get_options_fiscal_position_domain`
# (`account_report.py:999-1083`). Domestic vs foreign VAT scoping for
# reports carrying a country: the selected position becomes a predicate
# on the move's fiscal_position_id that rides the pushed-down scan
# filter, exactly like the company scope.
# ---------------------------------------------------------------------------


def init_options_fiscal_position(
    options: dict,
    fiscal_positions: list[dict],
    report_country: str | None,
    company_country: str | None,
    previous: dict | None = None,
) -> dict:
    """Port of `_init_options_fiscal_position` (`account_report.py:
    999-1040`). ``fiscal_positions`` rows look like
    ``{'id': 2, 'company_id': 0, 'country': 'FR', 'foreign_vat': True}``.

    Active only when the report has a country and a single company is
    scoped; otherwise the filter is disabled ('all', domestic allowed).
    Selection: a legit previous value wins; a single foreign position
    with no domestic option auto-selects; else default to 'domestic'
    when the active company's fiscal country matches the report, else
    'all'."""
    companies = options.get("companies") or []
    if report_country and len(companies) <= 1:
        scope_company = companies[0] if companies else None
        vat_fpos = [
            fp
            for fp in fiscal_positions
            if fp.get("foreign_vat")
            and fp.get("country") == report_country
            and (scope_company is None or fp.get("company_id") == scope_company)
        ]
        options["allow_domestic"] = company_country == report_country
        accepted = {fp["id"] for fp in vat_fpos}
        if options["allow_domestic"]:
            accepted.add("domestic")
        if len(vat_fpos) > (0 if options["allow_domestic"] else 1) or not accepted:
            accepted.add("all")
        prev = (previous or {}).get("fiscal_position")
        if prev in accepted:
            options["fiscal_position"] = prev
        elif len(vat_fpos) == 1 and not options["allow_domestic"]:
            options["fiscal_position"] = vat_fpos[0]["id"]
        else:
            options["fiscal_position"] = (
                "domestic" if options["allow_domestic"] else "all"
            )
    else:
        vat_fpos = []
        options["allow_domestic"] = True
        prev = (previous or {}).get("fiscal_position")
        options["fiscal_position"] = prev if prev in ("all", "domestic") else "all"
    options["available_vat_fiscal_positions"] = [
        {"id": fp["id"], "name": fp.get("name"), "company_id": fp.get("company_id")}
        for fp in vat_fpos
    ]
    return options


def fiscal_position_domain(
    options: dict, fiscal_positions: list[dict], field: str = "fiscal_position_id"
) -> list:
    """Port of `_get_options_fiscal_position_domain`
    (`account_report.py:1042-1083`), as a domain list for
    :func:`~..domain.compile_domain`:

    - 'domestic' → moves with no fiscal position, or one without
      foreign VAT;
    - a position id → moves under exactly that position;
    - 'all' → no constraint.

    (The reference ORs in a tax-tag escape hatch — rows wearing a tag of
    the report country regardless of position, minus other regions'
    positions — which needs per-tag country metadata the ledger fact
    does not model; the position legs here are the complete predicate
    for tag-less facts.)"""
    opt = options.get("fiscal_position")
    if opt == "domestic":
        domestic_ids = [
            fp["id"] for fp in fiscal_positions if not fp.get("foreign_vat")
        ]
        return (
            ["|", (field, "=", None), (field, "in", domestic_ids)]
            if domestic_ids
            else [(field, "=", None)]
        )
    if isinstance(opt, int):
        return [(field, "=", opt)]
    return []


# ---------------------------------------------------------------------------
# Tax-unit multi-company mode: `_multi_company_tax_units_init_options`
# (`account_report.py:1090-1148`). A tax unit is a named set of
# companies filing VAT together (one country, one main company); when a
# report's filter_multi_company == 'tax_units', selecting a unit swaps
# the company scope to the unit's companies.
# ---------------------------------------------------------------------------


def init_options_tax_units(
    options: dict,
    tax_units: list[dict],
    active_company: int,
    user_companies: set | None = None,
    report_country: str | None = None,
    previous: dict | None = None,
) -> dict:
    """Port of `_multi_company_tax_units_init_options`. ``tax_units``
    rows look like ``{'id': 1, 'name': 'DE VAT group', 'country': 'DE',
    'company_ids': [0, 2], 'main_company_id': 0}``.

    Availability: units containing the active company, matching the
    report's country when it has one, whose companies are ALL
    accessible to the user. A unit is *authorized* only when the
    currently selected companies equal its company set (the reference's
    company-selector handshake); 'company_only' is always authorized.
    Selection: a legit previous value wins; if exactly one unit is
    available and authorized it auto-selects; else 'company_only'.
    A selected unit REPLACES options['companies'] with the unit's
    companies and records its main company (the adjustment target of
    the carryover engine, `engines/carryover.py`)."""
    selected = set(options.get("companies") or [active_company])
    available = [
        u
        for u in tax_units
        if active_company in u["company_ids"]
        and (report_country is None or u.get("country") == report_country)
        and (user_companies is None or set(u["company_ids"]) <= set(user_companies))
    ]
    options["available_tax_units"] = [
        {"id": u["id"], "name": u.get("name"), "company_ids": list(u["company_ids"])}
        for u in available
    ]
    authorized = {
        u["id"] for u in available if set(u["company_ids"]) == selected
    } | {"company_only"}
    prev = (previous or {}).get("tax_unit")
    if prev in authorized:
        options["tax_unit"] = prev
    elif authorized == {"company_only"}:
        options["tax_unit"] = "company_only"
    elif len(available) == 1 and available[0]["id"] in authorized:
        options["tax_unit"] = available[0]["id"]
    else:
        options["tax_unit"] = "company_only"
    if options["tax_unit"] != "company_only":
        unit = next(u for u in available if u["id"] == options["tax_unit"])
        options["companies"] = list(unit["company_ids"])
        options["main_company"] = unit.get("main_company_id", unit["company_ids"][0])
    return options
