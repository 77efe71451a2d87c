"""Cross-engine synthesis of the ``pages`` IR (FIXTURES.md §2).

The reference's central IR is the per-page feature row (``PageFeatures``,
content_matcher.py:17-35) with two roles: voucher pages (probes) and
reference pages (index). We derive both deterministically from the
driver ``documents`` table, with the exact mix FIXTURES.md prescribes:

* ~20% of voucher pages are byte-equal duplicates of a reference page
  (exact-hash path J1);
* ~30% are near-duplicates (reference text + ``（首期）`` suffix) that
  share a date with their reference twin (blocking path J2/J3,
  levenshtein sim in (0.60, 1.0));
* ~20% share nothing (bounded-fallback path J4);
* the rest carry their own date token (blocked but usually low-sim).

Everything is integer arithmetic + substr/concat, so the identical
logical spec renders to both Spark SQL and DuckDB SQL via :mod:`sqlgen`
dialect helpers — the generated SQL **is** the oracle.
"""

from __future__ import annotations

from . import sqlgen as G
from .sqlgen import DUCK, SPARK, cast_str

# pages-per-doc and role split
NPAGE_MOD = 4                  # n_pages = 1 + doc_id % 4
R_MULT, R_PMULT, R_ADD = 48271, 16807, 7        # reference-page hash
V_MULT, V_PMULT, V_ADD = 69621, 30269, 11       # voucher-page hash
PH_MOD = 100003

# voucher page class by vh % 10
EXACT_LT = 2      # < 2  -> exact duplicate
NEAR_LT = 5       # < 5  -> near duplicate (suffix edit)
ORPHAN_LT = 7     # < 7  -> no shared blocking key (fallback path)
NEAR_SUFFIX = "（首期）"


def idiv(a: str, b: str, d: str) -> str:
    return f"({a} DIV {b})" if d == SPARK else f"({a} // {b})"


def _ph(id_expr: str, p_expr: str, mult: int, pmult: int, add: int) -> str:
    return f"(({id_expr}) * {mult} + ({p_expr}) * {pmult} + {add}) % {PH_MOD}"


def ref_page_text(text_col: str, p_expr: str, id_expr: str, d: str) -> str:
    """The reference-page text formula, usable with any (doc, page) pair
    so voucher duplicates can re-derive their twin's text without a
    correlated lookup."""
    ph = _ph(id_expr, p_expr, R_MULT, R_PMULT, R_ADD)
    return (
        f"substr({text_col}, 1 + ({p_expr}) * 53, 90)"
        f" || ' 日期:2003-05-' || {cast_str(f'10 + ({ph}) % 20', d)}"
        f" || CASE WHEN ({ph}) % 3 = 0"
        f"      THEN ' 金额:' || {cast_str(f'1000 + ({ph}) % 9000', d)} || '元'"
        f"      ELSE '' END"
        f" || CASE WHEN ({ph}) % 4 = 0 THEN ' 记账凭证 收款凭证 摘要'"
        f"         WHEN ({ph}) % 4 = 1 THEN ' 发票 税号 价税合计'"
        f"         WHEN ({ph}) % 4 = 2 THEN ' 合同 甲方 乙方 HT2003' || {cast_str(f'1000 + ({ph}) % 999', d)}"
        f"         ELSE '' END"
    )


def pages_cte(d: str, docs: str = "documents") -> str:
    """CTE chain producing ``pages(doc_id, role, page_num, text)``.

    Reference docs: even doc_ids; voucher docs: odd doc_ids, paired with
    ``doc_id - 1``.
    """
    vh = _ph("pv.doc_id", "pv.p", V_MULT, V_PMULT, V_ADD)
    # the voucher's twin page on the paired reference doc: same index if
    # in range, else wrap — keeps some multi-page consecutive runs intact
    rp = "(CASE WHEN pv.p < pv.r_n THEN pv.p ELSE pv.p % pv.r_n END)"
    ref_twin = ref_page_text("pv.r_text", rp, "pv.r_id", d)
    own = "substr(pv.v_text, 1 + pv.p * 53, 90)"
    own_dated = (
        f"{own} || ' 日期:2003-05-' || {cast_str(f'10 + ({vh}) % 20', d)}"
    )
    return f"""
page_ref_base AS (
  SELECT doc_id, text, 1 + doc_id % {NPAGE_MOD} AS n_pages
  FROM {docs} WHERE doc_id % 2 = 0
),
page_ref_k AS (
  SELECT doc_id, text, {G.explode_range('n_pages', 'p', d)} FROM page_ref_base
),
page_ref_txt AS (
  SELECT doc_id, p + 1 AS page_num,
         {ref_page_text("text", "p", "doc_id", d)} AS text
  FROM page_ref_k
),
page_v_base AS (
  SELECT v.doc_id, v.text AS v_text, r.doc_id AS r_id, r.text AS r_text,
         1 + v.doc_id % {NPAGE_MOD} AS n_pages, 1 + r.doc_id % {NPAGE_MOD} AS r_n
  FROM {docs} v JOIN {docs} r ON r.doc_id = v.doc_id - 1
  WHERE v.doc_id % 2 = 1
),
page_v_k AS (
  SELECT doc_id, v_text, r_id, r_text, r_n,
         {G.explode_range('n_pages', 'p', d)}
  FROM page_v_base
),
page_v_txt AS (
  SELECT pv.doc_id, pv.p + 1 AS page_num,
    CASE WHEN ({vh}) % 10 < {EXACT_LT} THEN {ref_twin}
         WHEN ({vh}) % 10 < {NEAR_LT} THEN {ref_twin} || '{NEAR_SUFFIX}'
         WHEN ({vh}) % 10 < {ORPHAN_LT} THEN {own}
         ELSE {own_dated}
    END AS text
  FROM page_v_k pv
),
pages AS (
  SELECT doc_id, 'reference' AS role, page_num, text FROM page_ref_txt
  UNION ALL
  SELECT doc_id, 'voucher' AS role, page_num, text FROM page_v_txt
)"""


def pages_sql(d: str, docs: str = "documents") -> str:
    return f"WITH {pages_cte(d, docs)} SELECT doc_id, role, page_num, text FROM pages"


# ------------------------------------------------- feature expressions
def _arr_distinct(e: str, d: str) -> str:
    return f"array_distinct({e})" if d == SPARK else f"list_distinct({e})"


def _arr_sort(e: str, d: str) -> str:
    return f"array_sort({e})" if d == SPARK else f"list_sort({e})"


def _arr_concat(parts: list[str], d: str) -> str:
    if d == SPARK:
        return "concat(" + ", ".join(parts) + ")"
    out = parts[0]
    for p in parts[1:]:
        out = f"list_concat({out}, {p})"
    return out
