"""Repetition-based quality filters — the Gopher-style signals
(Rae et al. 2021, "Scaling Language Models: ... Gopher", appendix A
MassiveText filtering; also used by RefinedWeb/FineWeb) that flag
boilerplate-heavy or degenerate documents by how much of them is
self-repetition:

* duplicate-line fraction        — lines occurring 2+ times / lines
* duplicate-paragraph fraction   — same over blank-line paragraphs
* top-{2,3,4}-gram fraction      — share of all word-n-gram slots taken
                                   by the single most frequent n-gram
                                   (3/4-gram widths added round 6)

All are within-document statistics, computed in one narrow Arrow
stage (functions/arrowhash.repetition_stats_arrow) with no shuffle;
repetition_stats_sql is their DuckDB twin.

Round 6 adds the LINE-SHAPE family (also MassiveText appendix A):
symbol-to-word ratio and bullet/ellipsis line fractions — pure
per-row expressions with NO shuffle at all; the curate gates apply
them inside the same codegen filter stage as the length gates.

The thresholds used by published pipelines (dup-line > 0.30,
dup-paragraph > 0.30, top-{2,3,4}-gram > 0.20/0.18/0.16,
symbol/word > 0.1, bullet lines > 0.9, ellipsis lines > 0.3 → drop)
are exposed as defaults on the curate gate, not baked in here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


ALL_SIGNALS = (
    "dup_line_frac",
    "dup_para_frac",
    "top_bigram_frac",
    "top_3gram_frac",
    "top_4gram_frac",
)

# signal name → word-n-gram width for the top-gram family (Gopher
# appendix A thresholds: top 2-gram > 0.20, 3-gram > 0.18,
# 4-gram > 0.16 → drop)
_TOP_GRAM_N = {"top_bigram_frac": 2, "top_3gram_frac": 3, "top_4gram_frac": 4}


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    signals: tuple[str, ...] = ALL_SIGNALS,
) -> DataFrame:
    """(id, <signals...>) per doc — pass `signals` to compute only the
    gates actually thresholded (the bigram pass is the most expensive
    of the three; a caller gating on dup-line alone shouldn't pay it).

    Documents with no qualifying units (no non-blank line, fewer than
    two tokens) get 0.0 for the corresponding signal — "nothing
    repeats in nothing", and a degenerate doc should be caught by the
    length gates, not by a NULL leaking through a threshold predicate.
    """
    unknown = set(signals) - set(ALL_SIGNALS)
    if unknown or not signals:
        raise ValueError(f"signals must be a non-empty subset of {ALL_SIGNALS}")
    # Round 7 (guide §2.4): every signal is a WITHIN-document statistic,
    # yet the original plan ran one explode → groupBy(id, unit) →
    # groupBy(id) shuffle pair per signal plus a |signals|-way left
    # join — five corpus shuffles for numbers no row ever needed to
    # leave its partition for. One narrow Arrow stage
    # (functions/arrowhash.py) computes the identical raw fractions
    # (integer counts + one IEEE division); the rounding and the 0.0
    # "nothing repeats in nothing" coalesce stay here, JVM-side, so the
    # output contract is unchanged (pinned by the repetition_stats
    # DuckDB twin).
    from docling_pdf_spark.functions.arrowhash import repetition_stats_arrow

    ordered = tuple(s for s in ALL_SIGNALS if s in signals)
    raw = repetition_stats_arrow(docs, id_col, text_col, ordered, _TOP_GRAM_N)
    return raw.select(
        id_col,
        *[
            F.round(F.coalesce(F.col(n), F.lit(0.0)), 6).alias(n)
            for n in ordered
        ],
    )


# ---------------- line-shape / symbol signals (Gopher appendix A) ----
#
# The remaining MassiveText document-shape gates: symbol-to-word ratio
# (hash or ellipsis symbols, > 0.1 → drop), fraction of lines starting
# with a bullet (> 0.9 → drop), fraction of lines ending with an
# ellipsis (> 0.3 → drop). Unlike the repetition family these need NO
# shuffle at all — each signal is a pure per-row JVM expression over
# the split-line array (size/filter/regexp_count), so the curate gates
# apply them as codegen filter predicates in the same stage as the
# length gates. Patterns live in the Java∩RE2 common subset so the
# DuckDB twin runs the identical strings.

BULLET_RE = r"^[-*•‣▪◦] "  # applied to the TRIMMED line
ELLIPSIS_RE = r"(\.\.\.|…)$"  # trimmed line ends with an ellipsis

# shared str-or-Column coercion (single definition repo-wide)
from docling_pdf_spark.functions.text import as_col as _col


def _nonblank_lines(c: F.Column) -> F.Column:
    return F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")


def _line_frac(c: F.Column, pattern: str) -> F.Column:
    """fraction of non-blank lines whose TRIMMED form matches pattern;
    0.0 for a doc with no non-blank line (same "nothing qualifies in
    nothing" convention as repetition_stats)."""
    lines = _nonblank_lines(c)
    n = F.size(lines)
    return F.when(
        n > 0,
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(pattern))) / n,
    ).otherwise(F.lit(0.0))


def symbol_word_ratio(col: F.Column | str) -> F.Column:
    """(# of '#' + # of '...' + # of '…') / word count — Gopher's
    symbol-to-word ratio. 0.0 for a doc with no words."""
    c = _col(col)
    symbols = (
        F.regexp_count(c, F.lit("#"))
        + F.regexp_count(c, F.lit(r"\.\.\."))
        + F.regexp_count(c, F.lit("…"))
    )
    words = F.size(F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != ""))
    return F.when(words > 0, symbols / words).otherwise(F.lit(0.0))


def bullet_line_frac(col: F.Column | str) -> F.Column:
    """fraction of non-blank lines starting with a bullet marker."""
    return _line_frac(_col(col), BULLET_RE)


def ellipsis_line_frac(col: F.Column | str) -> F.Column:
    """fraction of non-blank lines ending with an ellipsis."""
    return _line_frac(_col(col), ELLIPSIS_RE)


def line_shape_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, symbol_word_ratio, bullet_line_frac, ellipsis_line_frac)
    per doc — the stats-table form of the three expression signals
    (for observability / threshold tuning; the curate gates use the
    column functions directly as filter predicates). Unsplittable scans
    are spread first (guide §2.5) — the per-row regex work dominates."""
    from docling_pdf_spark.functions.scanspread import spread_unsplittable

    docs = spread_unsplittable(docs.select(F.col(id_col), F.col(text_col)))
    c = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.round(symbol_word_ratio(c), 6).alias("symbol_word_ratio"),
        F.round(bullet_line_frac(c), 6).alias("bullet_line_frac"),
        F.round(ellipsis_line_frac(c), 6).alias("ellipsis_line_frac"),
    )


def line_shape_stats_sql(table: str = "documents") -> str:
    """DuckDB SQL twin of line_shape_stats — the same pattern strings
    (Java∩RE2 common subset), list_filter/len as the dual of the Spark
    size/filter array expressions."""
    lines = (
        "list_filter(string_split_regex(text, '\\n'), x -> trim(x) <> '')"
    )
    frac = (
        "CASE WHEN len({L}) > 0 THEN "
        "len(list_filter({L}, x -> regexp_matches(trim(x), '{p}'))) * 1.0 / len({L}) "
        "ELSE 0.0 END"
    )
    words = (
        "len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    )
    symbols = (
        "len(regexp_extract_all(text, '#')) "
        "+ len(regexp_extract_all(text, '\\.\\.\\.')) "
        "+ len(regexp_extract_all(text, '…'))"
    )
    return f"""
SELECT doc_id,
       round(CASE WHEN {words} > 0 THEN ({symbols}) * 1.0 / {words} ELSE 0.0 END, 6) AS symbol_word_ratio,
       round({frac.format(L=lines, p=BULLET_RE.replace("'", "''"))}, 6) AS bullet_line_frac,
       round({frac.format(L=lines, p=ELLIPSIS_RE.replace("'", "''"))}, 6) AS ellipsis_line_frac
FROM {table}
"""


def repetition_stats_sql(
    table: str = "documents", signals: tuple[str, ...] = ALL_SIGNALS
) -> str:
    """DuckDB SQL twin of repetition_stats — generated per signal so
    the Spark plan and the oracle share structure by construction
    (this string IS the driver's `repetition_stats` oracle since
    round 6, and the pytest twin before that). The top-n-gram CTEs
    chain n ordinality-joined copies of the token list — the
    relational dual of the Spark side's fold of zip_with over n
    shifted slices."""
    unknown = set(signals) - set(ALL_SIGNALS)
    if unknown or not signals:
        raise ValueError(f"signals must be a non-empty subset of {ALL_SIGNALS}")
    ctes: list[str] = []
    out_cols: list[str] = []
    if "dup_line_frac" in signals:
        ctes.append(f"""lines AS (
  SELECT doc_id, u, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\n')) AS u FROM {table})
  WHERE trim(u) <> '' GROUP BY doc_id, u
), lf AS (
  SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c) AS dup_line_frac
  FROM lines GROUP BY doc_id
)""")
        out_cols.append("lf.dup_line_frac")
    if "dup_para_frac" in signals:
        ctes.append(f"""paras AS (
  SELECT doc_id, u, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\n{{2,}}')) AS u FROM {table})
  WHERE trim(u) <> '' GROUP BY doc_id, u
), pf AS (
  SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c) AS dup_para_frac
  FROM paras GROUP BY doc_id
)""")
        out_cols.append("pf.dup_para_frac")
    gram_signals = [s for s in ALL_SIGNALS if s in signals and s in _TOP_GRAM_N]
    if gram_signals:
        # ordinality over the FILTERED token list, matching the Spark
        # side's zip of the filtered array with its shifted slices
        ctes.append(f"""toks AS (
  SELECT doc_id, w, ord
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS l
        FROM {table}),
       LATERAL (SELECT unnest(l) AS w, generate_subscripts(l, 1) AS ord) t
)""")
    for sig in gram_signals:
        n = _TOP_GRAM_N[sig]
        joins = " ".join(
            f"JOIN toks t{k} ON t{k}.doc_id = t1.doc_id AND t{k}.ord = t1.ord + {k - 1}"
            for k in range(2, n + 1)
        )
        concat = " || ' ' || ".join(f"t{k}.w" for k in range(1, n + 1))
        ctes.append(f"""g{n} AS (
  SELECT t1.doc_id, {concat} AS g, count(*) AS c
  FROM toks t1 {joins}
  GROUP BY t1.doc_id, g
), f{n} AS (
  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS {sig} FROM g{n} GROUP BY doc_id
)""")
        out_cols.append(f"f{n}.{sig}")
    ordered = [s for s in ALL_SIGNALS if s in signals]
    sel = ",\n       ".join(
        f"round(coalesce({col}, 0.0), 6) AS {sig}"
        for sig, col in zip(ordered, out_cols)
    )
    joins = "\n".join(
        f"LEFT JOIN {col.split('.')[0]} USING (doc_id)" for col in out_cols
    )
    return f"""
WITH {', '.join(ctes)}
SELECT d.doc_id,
       {sel}
FROM {table} d
{joins}
"""
