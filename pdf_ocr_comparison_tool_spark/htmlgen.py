"""Cross-engine synthesis of the ``html_docs`` IR (FIXTURES.md §6).

The north rule's extraction tier names three input shapes: PDF layout
spans (:mod:`sqlgen` spans/grounded derivations), interleaved media
(:mod:`operators.multimodal`), and **HTML pages that need boilerplate
stripping via DOM heuristics**. This module derives the third shape
deterministically from the driver ``documents`` table: one HTML string
per document, a newline-separated sequence of single-tag blocks

    ``<tag>[<img src="m://d/b"/>]body[ <a href="#">lnkNN</a>...]</tag>``

with the block mix a boilerplate classifier needs — nav/footer/aside
blocks that are short and link-dense (chrome), ``p``/``div`` blocks that
are long and mostly prose (content), ``h2`` headings and ``li`` items in
between, and ``<img>`` tags interleaved into some content blocks so the
extracted main content stays a text+media interleave.

Everything is integer arithmetic + substr/concat on the document text,
so the identical spec renders to Spark SQL, DuckDB SQL (the oracle) and
the DataFrame twin :func:`synth.html_df`.
"""

from __future__ import annotations

from . import sqlgen as G
from .sqlgen import cast_str

# blocks-per-doc and per-block hash
HB_NBLOCK_MOD = 6              # n_blocks = 3 + doc_id % 6
HB_MULT, HB_BMULT, HB_ADD = 48157, 9973, 17
HB_MOD = 100003
HB_STRIDE = 41                 # body = substr(text, 1 + (b*41) % ..., len)

# tag by bh % 10: 0 nav, 1 footer, 2 aside, 3 h2, 8 li, 9 div, else p
HB_TAG_CASES = [
    (0, "nav"), (1, "footer"), (2, "aside"), (3, "h2"), (8, "li"), (9, "div"),
]
HB_TAG_DEFAULT = "p"

# body slice length by tag family
HB_NAV_LEN = 30                # nav/footer/aside: short chrome
HB_HEAD_LEN = 24               # h2
HB_LI_LEN = 45                 # li
HB_P_LEN = 130                 # p/div: prose

# anchor mix: chrome gets 2 + bh%3 anchors, li exactly 1, prose 1 iff
# bh % 5 == 0; anchor text = 'lnk' || (bh + 7j) % 97
HB_CHROME_TAGS = ("nav", "footer", "aside")
HB_MAX_ANCHORS = 4
HB_ANCHOR_MULT = 7
HB_ANCHOR_MOD = 97

# an <img> is interleaved into p/div blocks when bh % 7 == 0
HB_IMG_MOD = 7


def _bh(id_expr: str, b_expr: str) -> str:
    return (
        f"(({id_expr}) * {HB_MULT} + ({b_expr}) * {HB_BMULT} + {HB_ADD})"
        f" % {HB_MOD}"
    )


def html_cte(d: str, docs: str = "documents") -> str:
    """CTE chain producing ``html_docs(doc_id, html)``."""
    bh = "bh"
    tag = "CASE " + " ".join(
        f"WHEN {bh} % 10 = {m} THEN '{t}'" for m, t in HB_TAG_CASES
    ) + f" ELSE '{HB_TAG_DEFAULT}' END"
    chrome = "('" + "', '".join(HB_CHROME_TAGS) + "')"
    blen = (
        f"CASE WHEN tag IN {chrome} THEN {HB_NAV_LEN}"
        f" WHEN tag = 'h2' THEN {HB_HEAD_LEN}"
        f" WHEN tag = 'li' THEN {HB_LI_LEN}"
        f" ELSE {HB_P_LEN} END"
    )
    n_a = (
        f"CASE WHEN tag IN {chrome} THEN 2 + {bh} % 3"
        f" WHEN tag = 'li' THEN 1"
        f" WHEN {bh} % 5 = 0 THEN 1 ELSE 0 END"
    )
    anchor_terms = " || ".join(
        f"CASE WHEN {j} < n_a THEN ' <a href=\"#\">lnk'"
        f" || {cast_str(f'(bh + {j * HB_ANCHOR_MULT}) % {HB_ANCHOR_MOD}', d)}"
        f" || '</a>' ELSE '' END"
        for j in range(HB_MAX_ANCHORS)
    )
    img = (
        f"CASE WHEN bh % {HB_IMG_MOD} = 0 AND tag IN ('p', 'div')"
        f" THEN '<img src=\"m://' || {cast_str('doc_id', d)} || '/'"
        f" || {cast_str('b', d)} || '\"/>' ELSE '' END"
    )
    # newline-fold makes the derivation total: blocks are joined with
    # chr(10), so a text slice containing one would split a block in
    # two at parse time (driver text is newline-free today; the fold
    # keeps the spec correct for any input)
    body = (
        f"translate(substr(text, 1 + (b * {HB_STRIDE})"
        f" % greatest(tlen - 20, 1), blen), chr(10), ' ')"
    )
    if d == G.SPARK:
        # Spark SQL rejects array_agg(x ORDER BY y) — sort-after-collect
        agg = (
            "array_join(transform(array_sort(collect_list("
            "named_struct('o', b, 'x', block))), s -> s.x), chr(10))"
        )
    else:
        agg = "string_agg(block, chr(10) ORDER BY b)"
    return f"""
hb_base AS (
  SELECT doc_id, text, length(text) AS tlen,
         3 + doc_id % {HB_NBLOCK_MOD} AS n_blocks
  FROM {docs}
),
hb_k AS (
  SELECT doc_id, text, tlen, {G.explode_range('n_blocks', 'b', d)}
  FROM hb_base
),
hb_h AS (
  SELECT doc_id, text, tlen, b, {_bh('doc_id', 'b')} AS bh FROM hb_k
),
hb_tag AS (
  SELECT doc_id, text, tlen, b, bh, {tag} AS tag FROM hb_h
),
hb_shape AS (
  SELECT doc_id, text, tlen, b, bh, tag,
         {blen} AS blen, {n_a} AS n_a
  FROM hb_tag
),
hb_block AS (
  SELECT doc_id, b,
         '<' || tag || '>' || {img} || {body} || {anchor_terms}
         || '</' || tag || '>' AS block
  FROM hb_shape
),
html_docs AS (
  SELECT doc_id, {agg} AS html FROM hb_block GROUP BY doc_id
)"""
