"""SQL text entry point with Snowflake-dialect translation.

The reference's SQL surface is Snowflake SQL. Much of it is ANSI (or has
a same-named Spark builtin: ``NVL``, ``TRY_CAST``, ``ILIKE``, ``::``
casts, 3-arg ``DATEADD``) and runs on Spark SQL unchanged; the rest is
translated token-safely by ``translate_snowflake`` so that the SQL a
reference user runs today executes verbatim here:

- ``QUALIFY`` (dags/2_logistics-shipment-dag.py:112,121,
  dags/snowflake-EDW-ETL-dag.py:331) — desugared to a wrapped
  window-predicate subquery (Spark has no QUALIFY; SURVEY §4 item 3).
- ``IFF(c,a,b)`` → ``IF(c,a,b)``.
- ``TRY_TO_TIMESTAMP_NTZ`` / ``TO_TIMESTAMP_NTZ`` →
  ``TRY_TO_TIMESTAMP`` / ``TO_TIMESTAMP`` (engine standardizes on UTC,
  SURVEY §7 risk register; dags/2_logistics-shipment-dag.py:108).
- ``DATEDIFF(DAY, a, b)`` → ``DATEDIFF(TO_DATE(b), TO_DATE(a))`` —
  Snowflake's DATEDIFF counts *date-boundary crossings*, not elapsed
  24-hour periods, while Spark's 3-arg form is TIMESTAMPDIFF (full
  periods); the rewrite preserves Snowflake semantics
  (dags/logistics-gold-metrics-sql.py:29,137-139).
- ``TO_CHAR(x, 'YYYYMMDD')`` → ``DATE_FORMAT`` with the format string
  mapped from Oracle-style to java.time tokens
  (dags/snowflake-EDW-ETL-dag.py:325).
- ``, TABLE(SPLIT_TO_TABLE(x, d))`` → ``LATERAL VIEW POSEXPLODE(SPLIT
  (x, d))`` (dbt/.../customer_experience_summary.sql:16,22).
- ``, LATERAL FLATTEN(input => x)`` → ``LATERAL VIEW EXPLODE(FROM_JSON
  (x, 'array<string>'))`` — array elements surface as JSON text, which
  the path operator below consumes
  (dags/2_logistics-shipment-dag.py:102-103).
- JSON path access ``col:a."b".c[0]::T`` →
  ``GET_JSON_OBJECT(col, '$.a.b.c[0]')::T``
  (dags/2_logistics-shipment-dag.py:125-146). The shim targets the
  schema-on-read world where VARIANT columns are JSON strings; columns
  already parsed to structs use native dot access instead.

Every rewrite is a no-op on ANSI SQL, so ``run_sql`` applies the whole
chain unconditionally. The scanners skip string literals, double-quoted
identifiers, and ``--`` comments.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .io_utils import register_views

_STOPPERS = ("ORDER BY", "LIMIT")


def _span_end(sql: str, i: int) -> int:
    """End of the token at ``sql[i]``: past a whole ``'…'`` literal or
    ``"…"`` quoted text, up to the newline of a ``--`` comment, else
    ``i + 1``. Every scanner that looks for code steps with it, so they
    all agree on what is code."""
    n = len(sql)
    if sql[i] == "'":
        j = i + 1
        while j < n and sql[j] != "'":
            j += 2 if sql[j] == "\\" else 1
        return min(j + 1, n)
    if sql[i] == '"':
        j = sql.find('"', i + 1)
        return n if j < 0 else j + 1
    if sql.startswith("--", i):
        j = sql.find("\n", i)
        return n if j < 0 else j
    return i + 1


def _tokens(sql: str, start: int = 0):
    """``(index, text)`` per token from ``start``: one code character, or
    a whole literal, quoted text or comment (see ``_span_end``)."""
    i = start
    while i < len(sql):
        j = _span_end(sql, i)
        yield i, sql[i:j]
        i = j


def _find_word(sql: str, word: str, start: int = 0, toplevel: bool = False) -> int:
    """Index of keyword ``word`` in code (at paren-depth 0 when
    ``toplevel``); case-insensitive; -1 if absent."""
    upper, word = sql.upper(), word.upper()
    depth = 0
    for i, tok in _tokens(sql, start):
        depth += (tok == "(") - (tok == ")")
        if (depth == 0 or not toplevel) and upper.startswith(word, i):
            before_ok = i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] in "_$")
            j = i + len(word)
            after_ok = j >= len(sql) or not (sql[j].isalnum() or sql[j] in "_$")
            if before_ok and after_ok:
                return i
    return -1


def desugar_qualify(sql: str) -> tuple[str, bool]:
    """Rewrite a top-level QUALIFY clause into a wrapped subquery filter.
    Returns (rewritten_sql, had_qualify); the caller drops the helper
    ``__qualify`` column when had_qualify is True."""
    q = _find_word(sql, "QUALIFY", toplevel=True)
    if q < 0:
        return sql, False
    pred_start = q + len("QUALIFY")
    pred_end = len(sql)
    for stopper in _STOPPERS:
        s = _find_word(sql, stopper, pred_start, toplevel=True)
        if 0 <= s < pred_end:
            pred_end = s
    pred = sql[pred_start:pred_end].strip().rstrip(";")
    inner = sql[:q].strip()
    tail = sql[pred_end:].strip().rstrip(";")
    rewritten = (
        "SELECT * FROM ("
        f"SELECT __q.*, ({pred}) AS __qualify FROM ({inner}) __q"
        ") WHERE __qualify"
    )
    if tail:
        rewritten = f"{rewritten} {tail}"
    return rewritten, True


# ---------------------------------------------------------------------------
# Snowflake-dialect function / clause rewrites
# ---------------------------------------------------------------------------


def _match_paren(sql: str, open_idx: int) -> int:
    """Index of the ')' matching sql[open_idx] == '('."""
    depth = 0
    for i, tok in _tokens(sql, open_idx):
        depth += (tok == "(") - (tok == ")")
        if tok == ")" and depth == 0:
            return i
    raise ValueError("unbalanced parentheses in SQL")


def _split_args(argstr: str) -> list[str]:
    """Split a function-argument string on top-level commas; comments are
    dropped."""
    parts, depth, cur = [], 0, []
    for _, tok in _tokens(argstr):
        depth += (tok == "(") - (tok == ")")
        if tok == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        elif not tok.startswith("--"):
            cur.append(tok)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _rewrite_calls(sql: str, fname: str, transform) -> str:
    """Replace every ``fname(args...)`` with ``transform(args_list)``.
    Iterates to a fixpoint; transforms must not emit ``fname(`` again."""
    start = 0
    while True:
        at = _find_word(sql, fname, start)
        if at < 0:
            return sql
        op = at + len(fname)
        while op < len(sql) and sql[op].isspace():
            op += 1
        if op >= len(sql) or sql[op] != "(":
            start = at + len(fname)
            continue
        close = _match_paren(sql, op)
        args = _split_args(sql[op + 1 : close])
        repl = transform(args)
        if repl is None:  # transform declines; leave untouched
            start = close
            continue
        sql = sql[:at] + repl + sql[close + 1 :]
        start = at


_TOCHAR_MAP = [  # Oracle/Snowflake tokens → java.time, longest first
    ("HH24", "HH"), ("HH12", "hh"), ("YYYY", "yyyy"), ("FF3", "SSS"),
    ("MON", "MMM"), ("DY", "EEE"), ("YY", "yy"), ("MI", "mm"),
    ("DD", "dd"), ("SS", "ss"),
]


def _map_tochar_format(fmt_literal: str) -> str:
    inner = fmt_literal.strip()[1:-1]  # strip quotes
    out, i = [], 0
    while i < len(inner):
        for src, dst in _TOCHAR_MAP:
            if inner.upper().startswith(src, i):
                out.append(dst)
                i += len(src)
                break
        else:
            out.append(inner[i])
            i += 1
    return "'" + "".join(out) + "'"


_ALIAS_STOP = frozenset(
    "WHERE GROUP ORDER QUALIFY LIMIT HAVING JOIN LEFT RIGHT INNER FULL CROSS "
    "ON UNION SELECT FROM LATERAL WINDOW AS SET WHEN USING".split()
)


def _take_alias(sql: str, pos: int, default: str) -> tuple[str, int]:
    """Consume an optional ``[AS] alias`` starting at pos; returns
    (alias, next_pos)."""
    i, n = pos, len(sql)
    while i < n and sql[i].isspace():
        i += 1
    j = i
    while j < n and (sql[j].isalnum() or sql[j] in "_$"):
        j += 1
    word = sql[i:j]
    if word.upper() == "AS":
        return _take_alias(sql, j, default)
    if word and word.upper() not in _ALIAS_STOP and not word[0].isdigit():
        return word, j
    return default, pos


def _rewrite_from_table_funcs(sql: str) -> str:
    """FROM-clause table functions: TABLE(SPLIT_TO_TABLE(x, d)) and
    LATERAL FLATTEN(input => x), each with an optional alias and an
    optional preceding comma (the comma-join form)."""
    def _preceding_word(s: str, pos: int, word: str) -> int:
        """Start index of ``word`` if it immediately precedes pos
        (whitespace-separated), else -1."""
        k = pos
        while k > 0 and s[k - 1].isspace():
            k -= 1
        st = k - len(word)
        if st >= 0 and s[st:k].upper() == word:
            before_ok = st == 0 or not (s[st - 1].isalnum() or s[st - 1] in "_$")
            if before_ok:
                return st
        return -1

    # TABLE(SPLIT_TO_TABLE(x, d)) [alias]  (also bare SPLIT_TO_TABLE(...))
    while True:
        at = _find_word(sql, "SPLIT_TO_TABLE")
        if at < 0:
            break
        op = at + len("SPLIT_TO_TABLE")
        while op < len(sql) and sql[op].isspace():
            op += 1
        close = _match_paren(sql, op)
        x, d = _split_args(sql[op + 1 : close])
        span_start, span_end = at, close
        # unwrap an immediately-enclosing TABLE( ... )
        k = at
        while k > 0 and sql[k - 1].isspace():
            k -= 1
        if k > 0 and sql[k - 1] == "(":
            t = _preceding_word(sql, k - 1, "TABLE")
            if t >= 0 and _match_paren(sql, k - 1) >= close:
                span_start, span_end = t, _match_paren(sql, k - 1)
        alias, after = _take_alias(sql, span_end + 1, "__stt")
        lead = span_start
        while lead > 0 and sql[lead - 1].isspace():
            lead -= 1
        if lead > 0 and sql[lead - 1] == ",":
            lead -= 1
        repl = f" LATERAL VIEW POSEXPLODE(SPLIT({x}, {d})) {alias} AS index, value"
        sql = sql[:lead] + repl + sql[after:]
    # LATERAL FLATTEN(input => x) [alias]
    while True:
        at = _find_word(sql, "FLATTEN")
        if at < 0:
            break
        op = at + len("FLATTEN")
        while op < len(sql) and sql[op].isspace():
            op += 1
        close = _match_paren(sql, op)
        args = _split_args(sql[op + 1 : close])
        inp = None
        for a in args:
            head, _, val = a.partition("=>")
            if head.strip().upper() == "INPUT" and val:
                inp = val.strip()
        if inp is None and len(args) == 1 and "=>" not in args[0]:
            inp = args[0]
        if inp is None:
            raise ValueError("unsupported FLATTEN arguments: " + sql[at : close + 1])
        alias, after = _take_alias(sql, close + 1, "__flat")
        lat = _preceding_word(sql, at, "LATERAL")
        lead = lat if lat >= 0 else at
        while lead > 0 and sql[lead - 1].isspace():
            lead -= 1
        if lead > 0 and sql[lead - 1] == ",":
            lead -= 1
        repl = (
            f" LATERAL VIEW EXPLODE(FROM_JSON({inp}, 'array<string>'))"
            f" {alias} AS value"
        )
        sql = sql[:lead] + repl + sql[after:]
    return sql


def _rewrite_json_paths(sql: str) -> str:
    """``base:seg1."seg2".seg3[0]`` → ``GET_JSON_OBJECT(base, '$.path')``.
    A path colon has an identifier/quoted segment on both sides and is
    not part of ``::``."""
    out = []
    i, n = 0, len(sql)
    ident = lambda c: c.isalnum() or c in "_$"  # noqa: E731
    while i < n:
        ch = sql[i]
        end = _span_end(sql, i)
        if end > i + 1:  # a literal, quoted text or comment: copied whole
            out.append(sql[i:end])
            i = end
            continue
        if (
            ch == ":"
            and i > 0
            and (ident(sql[i - 1]) or sql[i - 1] == '"')
            and i + 1 < n
            and (ident(sql[i + 1]) or sql[i + 1] == '"')
            and sql[i + 1] != ":"
            and (not out or out[-1] != ":")
        ):
            # walk back over the base expression: ident chain with dots
            b = len(out)
            base_start = b
            k = b
            while k > 0:
                tok = out[k - 1]
                if len(tok) == 1 and (ident(tok) or tok in '."'):
                    k -= 1
                elif tok.startswith('"'):
                    k -= 1
                else:
                    break
            base = "".join(out[k:b])
            if not base or base[0].isdigit():
                out.append(ch)
                i += 1
                continue
            base_start = k
            # walk forward over path segments; '::' terminates (cast)
            j = i
            segs = []
            while j < n and (
                (sql[j] == ":" and not (j + 1 < n and sql[j + 1] == ":"))
                or (sql[j] == "." and segs)
            ):
                j += 1
                if j < n and sql[j] == '"':
                    e = sql.index('"', j + 1)
                    segs.append(sql[j + 1 : e])
                    j = e + 1
                else:
                    s = j
                    while j < n and ident(sql[j]):
                        j += 1
                    if s == j:
                        break
                    segs.append(sql[s:j])
                # optional [idx] suffixes
                while j < n and sql[j] == "[":
                    e = sql.index("]", j)
                    segs[-1] += sql[j : e + 1]
                    j = e + 1
            path = "$." + ".".join(segs)
            del out[base_start:]
            out.append(f"GET_JSON_OBJECT({base}, '{path}')")
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def translate_snowflake(sql: str) -> str:
    """Apply every Snowflake→Spark rewrite (each one a no-op on ANSI
    SQL). QUALIFY is handled separately by ``desugar_qualify``."""
    sql = _rewrite_from_table_funcs(sql)
    sql = _rewrite_calls(sql, "IFF", lambda a: f"IF({', '.join(a)})")
    sql = _rewrite_calls(
        sql, "TRY_TO_TIMESTAMP_NTZ", lambda a: f"TRY_TO_TIMESTAMP({', '.join(a)})"
    )
    sql = _rewrite_calls(
        sql, "TO_TIMESTAMP_NTZ", lambda a: f"TO_TIMESTAMP({', '.join(a)})"
    )

    def datediff(a):
        if len(a) == 3 and a[0].strip().upper() in ("DAY", "DD", "DAYS"):
            return f"DATEDIFF(TO_DATE({a[2]}), TO_DATE({a[1]}))"
        return None  # 2-arg / other units: Spark-native behavior

    sql = _rewrite_calls(sql, "DATEDIFF", datediff)

    def tochar(a):
        if len(a) == 1:
            return f"CAST({a[0]} AS STRING)"
        if len(a) == 2 and a[1].strip().startswith("'"):
            return f"DATE_FORMAT({a[0]}, {_map_tochar_format(a[1])})"
        return None

    sql = _rewrite_calls(sql, "TO_CHAR", tochar)
    sql = _rewrite_json_paths(sql)
    return sql


def run_sql(spark: SparkSession, sql: str, sf_dir: str | None = None) -> DataFrame:
    """Execute one SQL statement against the engine's tables.

    With ``sf_dir`` given, the synthetic tables are (re)registered as
    temp views first. The Snowflake dialect shim + QUALIFY desugaring run
    first (all no-ops for ANSI SQL); the result is Spark SQL planned by
    Catalyst like any DataFrame query — same pushdown, broadcast, and
    AQE behavior."""
    if sf_dir is not None:
        register_views(spark, sf_dir)
    translated = translate_snowflake(sql)
    rewritten, had_qualify = desugar_qualify(translated)
    df = spark.sql(rewritten)
    return df.drop("__qualify") if had_qualify else df


# ---------------------------------------------------------------------------
# MERGE INTO statement entry (SURVEY §M1 — the reference's dominant write
# primitive appears as raw SQL text in dags/logistics-airbyte-sql.py:25-49
# and 10+ siblings; this parses that Snowflake form and routes it to the
# engine's merge_upsert + atomic TableStore swap)
# ---------------------------------------------------------------------------


def _strip_alias_prefixes(expr: str, t_alias: str, s_alias: str) -> str:
    """Rewrite `<tgt-alias>.c` → `t.c` and `<src-alias>.c` → `s.c` so the
    expression binds against merge_upsert's t/s join aliases."""
    out = re.sub(rf"\b{re.escape(t_alias)}\s*\.", "t.", expr, flags=re.IGNORECASE)
    out = re.sub(rf"\b{re.escape(s_alias)}\s*\.", "s.", out, flags=re.IGNORECASE)
    return out


def parse_merge(sql: str) -> dict:
    """Parse a Snowflake-form MERGE statement into its components.

    Supported shape (exactly what the reference writes):

        MERGE INTO <target> [AS] [t_alias]
        USING ( <source query> ) [AS] [s_alias] | USING <table> [alias]
        ON <conjunction of t.k = s.k equality predicates>
        [WHEN MATCHED AND <cond> THEN DELETE]
        [WHEN MATCHED THEN UPDATE SET c = expr, ...]
        [WHEN NOT MATCHED THEN INSERT (c1, ...) VALUES (e1, ...)]

    Returns target name, source SQL/table, key column pairs, and the
    update/insert/delete expression strings (aliases normalized to t/s).
    """
    s = sql.strip().rstrip(";")
    m = re.match(r"MERGE\s+INTO\s+([A-Za-z0-9_.\"]+)\s+(?:AS\s+)?", s, re.IGNORECASE)
    if not m:
        raise ValueError("not a MERGE statement")
    target = m.group(1).strip('"')
    pos = m.end()
    mu = re.compile(r"\bUSING\b", re.IGNORECASE).search(s, pos)
    if not mu:
        raise ValueError("MERGE missing USING")
    t_alias = s[pos : mu.start()].strip() or target.split(".")[-1]
    pos = mu.end()
    while s[pos].isspace():
        pos += 1
    if s[pos] == "(":
        close = _match_paren(s, pos)
        source_sql, source_table = s[pos + 1 : close], None
        pos = close + 1
    else:
        mt = re.match(r"([A-Za-z0-9_.\"]+)", s[pos:])
        source_table, source_sql = mt.group(1).strip('"'), None
        pos += mt.end()
    mo = re.compile(r"\bON\b", re.IGNORECASE).search(s, pos)
    if not mo:
        raise ValueError("MERGE missing ON")
    s_alias = s[pos : mo.start()].strip()
    s_alias = re.sub(r"^AS\s+", "", s_alias, flags=re.IGNORECASE).strip() or (
        source_table.split(".")[-1] if source_table else "src"
    )
    pos = mo.end()
    mw = re.compile(r"\bWHEN\b", re.IGNORECASE).search(s, pos)
    if not mw:
        raise ValueError("MERGE missing WHEN clauses")
    on_clause = s[pos : mw.start()].strip()

    keys: list[tuple[str, str]] = []
    for part in re.split(r"\bAND\b", on_clause, flags=re.IGNORECASE):
        pm = re.match(
            r"\s*([A-Za-z0-9_\"]+)\s*\.\s*([A-Za-z0-9_\"]+)\s*=\s*"
            r"([A-Za-z0-9_\"]+)\s*\.\s*([A-Za-z0-9_\"]+)\s*$",
            part,
        )
        if not pm:
            raise ValueError(f"unsupported MERGE ON predicate: {part.strip()!r}")
        a1, c1, a2, c2 = (g.strip('"') for g in pm.groups())
        if a1.lower() == t_alias.lower():
            keys.append((c1, c2))
        elif a2.lower() == t_alias.lower():
            keys.append((c2, c1))
        else:
            raise ValueError(f"MERGE ON predicate references unknown alias: {part!r}")

    rest = s[mw.start() :]
    update_set: dict[str, str] = {}
    insert_cols: list[str] | None = None
    insert_vals: list[str] | None = None
    delete_cond: str | None = None

    clause_re = re.compile(
        r"WHEN\s+(MATCHED|NOT\s+MATCHED)(\s+AND\s+(?P<cond>.*?))?\s+THEN\s+"
        r"(?P<action>UPDATE\s+SET|INSERT|DELETE)",
        re.IGNORECASE | re.DOTALL,
    )
    matches = list(clause_re.finditer(rest))
    for i, cm in enumerate(matches):
        body_end = matches[i + 1].start() if i + 1 < len(matches) else len(rest)
        body = rest[cm.end() : body_end].strip()
        action = re.sub(r"\s+", " ", cm.group("action").upper())
        if action == "DELETE":
            if cm.group("cond") is None:
                raise ValueError("unconditional MATCHED DELETE not supported")
            delete_cond = _strip_alias_prefixes(cm.group("cond").strip(), t_alias, s_alias)
        elif action == "UPDATE SET":
            for assign in _split_args(body):
                am = re.match(r"\s*(?:[A-Za-z0-9_\"]+\s*\.\s*)?([A-Za-z0-9_\"]+)\s*=(.*)$",
                              assign, re.DOTALL)
                if not am:
                    raise ValueError(f"bad UPDATE SET assignment: {assign!r}")
                update_set[am.group(1).strip('"')] = _strip_alias_prefixes(
                    am.group(2).strip(), t_alias, s_alias
                )
        else:  # INSERT
            im = re.match(r"\s*\(", body)
            if not im:
                raise ValueError("INSERT requires an explicit column list")
            cols_close = _match_paren(body, body.index("("))
            insert_cols = [c.strip().strip('"') for c in _split_args(body[body.index("(") + 1 : cols_close])]
            vm = re.compile(r"\bVALUES\b", re.IGNORECASE).search(body, cols_close)
            if not vm:
                raise ValueError("INSERT missing VALUES")
            vopen = body.index("(", vm.end())
            vclose = _match_paren(body, vopen)
            insert_vals = [
                _strip_alias_prefixes(v.strip(), t_alias, s_alias)
                for v in _split_args(body[vopen + 1 : vclose])
            ]
            if len(insert_cols) != len(insert_vals):
                raise ValueError("INSERT column/value arity mismatch")
    return {
        "target": target,
        "source_sql": source_sql,
        "source_table": source_table,
        "keys": keys,
        "update_set": update_set,
        "insert_cols": insert_cols,
        "insert_vals": insert_vals,
        "delete_cond": delete_cond,
    }


def run_merge_sql(
    spark: SparkSession,
    sql: str,
    store,
    sf_dir: str | None = None,
    strict: bool = True,
):
    """Execute a Snowflake-form ``MERGE INTO`` statement against a
    :class:`~..plans.materialize.TableStore` table.

    The USING subquery runs through the full dialect shim (QUALIFY,
    IFF, TRY_*, JSON paths — so the reference's merge sources run
    verbatim), the clauses compile onto the engine's join-based
    ``merge_upsert`` (strict multi-match detection defaults ON, matching
    Snowflake's duplicate-source error), and the result replaces the
    target via the store's atomic snapshot swap. Returns the post-merge
    DataFrame.

    Storage-qualified target names resolve to their last component —
    the store IS the schema namespace.
    """
    from pyspark.sql import functions as F

    from .operators.merge import merge_upsert

    p = parse_merge(sql)
    tname = p["target"].split(".")[-1]
    target = store.read(tname)
    if p["source_sql"] is not None:
        source = run_sql(spark, p["source_sql"], sf_dir=sf_dir)
    else:
        source = spark.table(p["source_table"])
    # align differently-named source key columns to the target's names,
    # and rewrite clause expressions that referenced the old source name
    def _rekey(expr: str) -> str:
        for t_col, s_col in p["keys"]:
            if t_col != s_col:
                expr = re.sub(
                    rf"\bs\s*\.\s*{re.escape(s_col)}\b",
                    f"s.{t_col}",
                    expr,
                    flags=re.IGNORECASE,
                )
        return expr

    for t_col, s_col in p["keys"]:
        if t_col != s_col:
            source = source.withColumnRenamed(s_col, t_col)
    update_set = {c: F.expr(_rekey(e)) for c, e in p["update_set"].items()} or None
    insert_values = (
        {c: F.expr(_rekey(v)) for c, v in zip(p["insert_cols"], p["insert_vals"])}
        if p["insert_cols"]
        else None
    )
    delete_condition = F.expr(_rekey(p["delete_cond"])) if p["delete_cond"] else None
    merged = merge_upsert(
        target,
        source,
        keys=[t for t, _ in p["keys"]],
        update_set=update_set,
        insert_values=insert_values,
        strict=strict,
        delete_condition=delete_condition,
    )
    store.overwrite(tname, merged)
    return store.read(tname)


# ---------------------------------------------------------------------------
# Statement dispatcher — the full SQL-text entry the reference's DAGs use
# (SURVEY §2.2 K2-K4: CREATE OR REPLACE VIEW, CTAS full refresh,
# INSERT INTO ... SELECT, plus MERGE above). COPY INTO/LIST map to the
# sources module (read_*_stage / has_pending_files), not SQL.
# ---------------------------------------------------------------------------


def run_statement(
    spark: SparkSession,
    sql: str,
    store=None,
    sf_dir: str | None = None,
    stage_root: str | None = None,
) -> DataFrame | None:
    """Execute one statement of the reference's SQL surface.

    - ``CREATE OR REPLACE [TEMP[ORARY]] VIEW name AS select`` → dialect-
      translated select registered as a temp view (K3; Spark views over
      the engine's tables are always re-resolved at read time).
    - ``CREATE OR REPLACE TABLE name AS select`` → full-refresh
      materialization through the store's atomic snapshot swap (K4).
    - ``INSERT INTO name [(cols)] select`` → append through the store
      (K2) with by-name column alignment when a column list is given.
    - ``COPY INTO name FROM '<loc>' FILE_FORMAT=(TYPE='JSON'|'CSV' ...)``
      → stage readers + store append (S3-S5); ``@stage/...`` locations
      resolve against ``stage_root``.
    - ``MERGE INTO ...`` → :func:`run_merge_sql` (M1).
    - anything else → :func:`run_sql` (query).

    Returns the statement's DataFrame (post-write state for writes,
    ``None`` for view creation).
    """
    s = sql.strip().rstrip(";")
    mv = re.match(
        r"CREATE\s+OR\s+REPLACE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+([A-Za-z0-9_.\"]+)\s+AS\s+(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if mv:
        name = mv.group(1).strip('"').split(".")[-1]
        run_sql(spark, mv.group(2), sf_dir=sf_dir).createOrReplaceTempView(name)
        return None
    mt = re.match(
        r"CREATE\s+OR\s+REPLACE\s+TABLE\s+([A-Za-z0-9_.\"]+)\s+AS\s+(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if mt:
        if store is None:
            raise ValueError("CTAS requires a TableStore")
        name = mt.group(1).strip('"').split(".")[-1]
        store.overwrite(name, run_sql(spark, mt.group(2), sf_dir=sf_dir))
        return store.read(name)
    mi = re.match(
        r"INSERT\s+INTO\s+([A-Za-z0-9_.\"]+)\s*(\([^)]*\))?\s*(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if mi:
        if store is None:
            raise ValueError("INSERT INTO requires a TableStore")
        name = mi.group(1).strip('"').split(".")[-1]
        df = run_sql(spark, mi.group(3), sf_dir=sf_dir)
        if mi.group(2):
            cols = [c.strip().strip('"') for c in _split_args(mi.group(2)[1:-1])]
            if len(cols) != len(df.columns):
                raise ValueError("INSERT column/select arity mismatch")
            df = df.toDF(*cols)
        store.append(name, df)
        return store.read(name)
    if re.match(r"COPY\s+INTO\b", s, re.IGNORECASE):
        if store is None:
            raise ValueError("COPY INTO requires a TableStore")
        return _run_copy_into(spark, s, store, stage_root)
    if re.match(r"MERGE\s+INTO\b", s, re.IGNORECASE):
        if store is None:
            raise ValueError("MERGE requires a TableStore")
        return run_merge_sql(spark, s, store, sf_dir=sf_dir)
    return run_sql(spark, s, sf_dir=sf_dir)


def _split_statements(script: str) -> list[str]:
    """Split a SQL script on top-level semicolons (outside literals,
    quoted identifiers, and comments)."""
    out, cur_start = [], 0
    for i, tok in _tokens(script):
        if tok == ";":
            stmt = _strip_leading_comments(script[cur_start:i])
            if stmt:
                out.append(stmt)
            cur_start = i + 1
    stmt = _strip_leading_comments(script[cur_start:])
    if stmt:
        out.append(stmt)
    return out


def _strip_leading_comments(stmt: str) -> str:
    """Drop leading whitespace and `--` comment lines (a trailing comment
    after one statement's semicolon otherwise prefixes the next)."""
    lines = stmt.strip().splitlines()
    while lines and (not lines[0].strip() or lines[0].lstrip().startswith("--")):
        lines.pop(0)
    return "\n".join(lines).strip()


def run_script(
    spark: SparkSession,
    script: str,
    store=None,
    sf_dir: str | None = None,
    stage_root: str | None = None,
) -> DataFrame | None:
    """Execute a multi-statement SQL script (the body of a reference
    Airflow SQL task) statement-by-statement via :func:`run_statement`.
    Returns the last statement's DataFrame."""
    last = None
    for stmt in _split_statements(script):
        last = run_statement(spark, stmt, store=store, sf_dir=sf_dir, stage_root=stage_root)
    return last


def _run_copy_into(spark, stmt: str, store, stage_root: str | None):
    """``COPY INTO <table> FROM '<location>' FILE_FORMAT=(TYPE='JSON'|'CSV'
    [, options]) [PATTERN='regex']`` — the reference's bulk-load statement
    (dags/2_logistics-shipment-dag.py:83-86, weather_api_dag.py:62-67)
    routed onto the stage readers + store append.

    Snowflake ``@stage/...`` locations resolve against ``stage_root``
    (the engine's landing directory standing in for the external stage);
    plain quoted paths are used as-is.
    """
    from .sources.readers import read_csv_stage, read_json_stage

    m = re.match(
        r"COPY\s+INTO\s+([A-Za-z0-9_.\"]+)\s+FROM\s+'([^']+)'\s*(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unsupported COPY INTO form: {stmt[:120]!r}")
    target = m.group(1).strip('"').split(".")[-1]
    location, opts = m.group(2), m.group(3)
    if location.startswith("@"):
        if stage_root is None:
            raise ValueError(
                "COPY FROM @stage needs stage_root (the landing directory "
                "standing in for the external stage)"
            )
        # '@DB.SCHEMA.STAGE/prefix/file' → '<stage_root>/prefix/file'
        tail = location.split("/", 1)
        location = stage_root.rstrip("/") + ("/" + tail[1] if len(tail) > 1 else "")
    fmt = re.search(r"TYPE\s*=\s*'(\w+)'", opts, re.IGNORECASE)
    ftype = (fmt.group(1) if fmt else "CSV").upper()
    pat = re.search(r"PATTERN\s*=>?\s*'([^']*)'", opts, re.IGNORECASE)
    on_err = re.search(r"ON_ERROR\s*=\s*'SKIP_FILE'", opts, re.IGNORECASE)
    if ftype == "JSON":
        # Snowflake loads NDJSON by default and needs STRIP_OUTER_ARRAY
        # for whole-file arrays — mapped to Spark's multiLine switch
        outer_array = re.search(r"STRIP_OUTER_ARRAY\s*=\s*TRUE", opts, re.IGNORECASE)
        df = read_json_stage(
            spark,
            location,
            skip_bad_records=bool(on_err),
            multi_line=bool(outer_array),
        )
    elif ftype == "CSV":
        skip_header = re.search(r"SKIP_HEADER\s*=\s*1", opts, re.IGNORECASE)
        # Snowflake PATTERN is a regex; the reader filters by glob —
        # translate the two idioms the reference uses (`.*` wildcards,
        # `\.` escaped dots)
        glob = (
            pat.group(1).replace(".*", "*").replace("\\.", ".") if pat else None
        )
        df = read_csv_stage(
            spark,
            location,
            pattern=glob,
            skip_header=bool(skip_header),
        )
    else:
        raise ValueError(f"COPY INTO: unsupported FILE_FORMAT TYPE {ftype!r}")
    if store.exists(target):
        store.append(target, df)
    else:
        store.overwrite(target, df)
    return store.read(target)
