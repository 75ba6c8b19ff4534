"""FILTER/DISTINCT handling for the two blob aggregates in ``spark.sql``.

``ddsketch_agg`` and ``ddsketch_stats_agg`` are registered Spark
aggregates (Arrow grouped-agg UDFs), so a reference query such as
``SELECT service, ddsketch_stats_agg(sketch) FROM t GROUP BY 1`` parses
as is. Spark still refuses two aggregate clauses on any Python UDAF that
the reference's host engine accepts: ``FILTER (WHERE ...)`` and
``DISTINCT``. ``register_all`` installs a session-local ``spark.sql``
wrapper that folds a FILTER clause into the aggregate input and turns
DISTINCT into a clear, function-named error, before parsing. The rewrite
is purely syntactic but string/comment-aware and paren-balanced, so
sketch expressions containing nested calls, quoted literals, or comments
rewrite correctly; occurrences inside string literals, quoted
identifiers, or comments are left untouched.
"""

from __future__ import annotations

import re

__all__ = ["rewrite_stats_agg", "install_sql_rewrite"]


def _scan_token_spans(sql: str):
    """Yield (start, end, kind) spans for regions the rewriter must skip:
    single-quoted strings, double-quoted identifiers, backtick identifiers,
    line comments and block comments."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    # Spark's default parser honors backslash escapes in
                    # string literals ('don\'t'): skipping the escaped
                    # char keeps the scanner from ending the string early
                    # and inverting every later string/code region
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # escaped ''
                        j += 2
                        continue
                    break
                j += 1
            yield (i, min(j + 1, n), "str")
            i = j + 1
        elif c == '"' or c == "`":
            q = c
            j = sql.find(q, i + 1)
            j = n - 1 if j == -1 else j
            yield (i, j + 1, "ident")
            i = j + 1
        elif c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j == -1 else j
            yield (i, j, "comment")
            i = j
        elif c == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n - 2 if j == -1 else j
            yield (i, j + 2, "comment")
            i = j + 2
        else:
            i += 1


def _matching_paren(sql: str, open_idx: int) -> int:
    """Index of the ``)`` matching ``sql[open_idx] == '('``, skipping
    strings/comments; -1 if unbalanced."""
    skip = list(_scan_token_spans(sql[open_idx:]))
    depth = 0
    i = 0
    seg = sql[open_idx:]
    spans = iter(skip)
    cur = next(spans, None)
    while i < len(seg):
        if cur and cur[0] <= i < cur[1]:
            i = cur[1]
            cur = next(spans, None)
            continue
        while cur and cur[1] <= i:
            cur = next(spans, None)
        ch = seg[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return open_idx + i
        i += 1
    return -1


_AGG_NAME_RE = re.compile(r"ddsketch_(?:stats_)?agg", re.IGNORECASE)
_DISTINCT_RE = re.compile(r"^\s*DISTINCT\b", re.IGNORECASE)
_WHERE_RE = re.compile(r"^\s*WHERE\b(.*)$", re.IGNORECASE | re.DOTALL)


def _skip_ws_comments(sql: str, i: int) -> int:
    """First index >= ``i`` that is neither whitespace nor inside a
    line/block comment — so ``) /* note */ FILTER (...)`` parses like
    ``) FILTER (...)``."""
    n = len(sql)
    while i < n:
        if sql[i].isspace():
            i += 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j == -1 else j + 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j == -1 else j + 2
        else:
            break
    return i


def _parse_filter_clause(sql: str, pos: int):
    """If ``sql[pos:]`` starts with ``FILTER (WHERE <cond>)`` (whitespace
    and comments tolerated around each keyword), return
    (cond, end_index_after_close_paren); else None. Comments between the
    call and its FILTER clause are consumed by the fold."""
    i = _skip_ws_comments(sql, pos)
    if sql[i : i + 6].upper() != "FILTER":
        return None
    j = i + 6
    if j < len(sql) and re.match(r"[A-Za-z0-9_]", sql[j]):
        return None  # an identifier like FILTERED, not the keyword
    j = _skip_ws_comments(sql, j)
    if j >= len(sql) or sql[j] != "(":
        return None
    close = _matching_paren(sql, j)
    if close == -1:
        return None
    # comments are legal between '(' and WHERE too
    w_start = _skip_ws_comments(sql, j + 1)
    w = _WHERE_RE.match(sql[w_start:close])
    if not w:
        return None
    return w.group(1).strip(), close + 1


def rewrite_stats_agg(sql: str) -> str:
    """Fold the aggregate clauses Spark rejects on a Python UDAF out of
    every top-level-code ``ddsketch_stats_agg(...)`` / ``ddsketch_agg(...)``
    call; any other query comes back unchanged.

    A trailing ``FILTER (WHERE cond)`` folds into the aggregate input as
    ``CASE WHEN cond THEN <inner> END`` — exact because both aggregates
    skip NULL inputs (the reference's aggregates do too, lib.rs:191-194).
    ``DISTINCT`` inside the call raises a clear error naming the function
    (Spark's Python UDAFs cannot dedup; the host engine the reference
    rides in accepts it, so a migrating query must dedup in a subquery).

    Rewrites run one splice at a time, re-scanning the WHOLE output after
    each: a foldable call can sit INSIDE another call's FILTER condition,
    so any batch splice plan computed on the original string goes stale
    the moment one replacement changes the length. Each splice strictly
    reduces the count of FILTER clauses, so the loop terminates."""
    out = sql
    for _ in range(len(sql) + 1):  # hard bound; loop exits via break
        skip_spans = [(s, e) for s, e, _ in _scan_token_spans(out)]

        def in_skip(idx: int) -> bool:
            return any(s <= idx < e for s, e in skip_spans)

        spliced = False
        for m in _AGG_NAME_RE.finditer(out):
            if in_skip(m.start()):
                continue
            # standalone identifier only (not my_ddsketch_stats_agg2)
            before = out[m.start() - 1] if m.start() > 0 else " "
            after = out[m.end()] if m.end() < len(out) else " "
            if re.match(r"[A-Za-z0-9_]", before) or re.match(
                r"[A-Za-z0-9_]", after
            ):
                continue
            # find the call's opening paren (whitespace allowed)
            k = m.end()
            while k < len(out) and out[k].isspace():
                k += 1
            if k >= len(out) or out[k] != "(":
                continue
            close = _matching_paren(out, k)
            if close == -1:
                continue
            inner = out[k + 1 : close]
            # skip leading comments so `(/* c */ DISTINCT x)` hits the
            # clear error below, not the opaque Spark UDAF failure
            if _DISTINCT_RE.match(inner[_skip_ws_comments(inner, 0) :]):
                name = m.group(0).lower()
                raise ValueError(
                    f"{name}(DISTINCT ...) is not supported: Spark's Python"
                    " UDAFs cannot deduplicate their input. Deduplicate"
                    " in a subquery instead, e.g."
                    f" {name}(s) over (SELECT DISTINCT s FROM ...)."
                )
            filt = _parse_filter_clause(out, close + 1)
            if filt is None:
                continue  # plain call: Spark parses it as is
            cond, end = filt
            # the newline before THEN terminates any trailing line comment
            # in cond (strip() removed the newline that did so in the
            # original text); harmless otherwise
            repl = f"{m.group(0)}(CASE WHEN {cond}\n THEN {inner} END)"
            out = out[: m.start()] + repl + out[end:]
            spliced = True
            break  # indices are stale now — re-scan the new string
        if not spliced:
            break
    return out


def install_sql_rewrite(spark) -> None:
    """Wrap ``spark.sql`` on THIS session instance so FILTER and DISTINCT
    on the blob aggregates behave as in the reference. Idempotent; all other
    queries pass through unchanged (the wrapper short-circuits on a
    cheap name search before doing any scanning)."""
    if getattr(spark, "_ddsketch_sql_rewrite_installed", False):
        return
    original = spark.sql

    def sql(query, *args, **kwargs):
        if isinstance(query, str) and _AGG_NAME_RE.search(query):
            query = rewrite_stats_agg(query)
        return original(query, *args, **kwargs)

    spark.sql = sql
    spark._ddsketch_sql_rewrite_installed = True
