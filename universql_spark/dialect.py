"""Snowflake-SQL -> Spark-SQL text transforms (no sqlglot in this container,
so this is a deliberately small hand-rolled layer covering the reference's
declared dialect surface — SURVEY.md §2.3/§4.3):

- statement splitting on ';' outside quotes/comments
- `table(f(...))` wrapper strip            (reference duckdb.py:428-434)
- TIMESTAMP_LTZ/_TZ/_NTZ + TIMESTAMPLTZ... (reference duckdb.py:436-446)
- `::VARIANT` / PARSE_JSON                 (Spark: parse_json / variant)
- regexp_replace backrefs '\\N' -> '$N'    (Java regex dialect; §2.7 row 19)
- function renames with arg-order fixes where needed (IFF->if,
  DATEADD/DATEDIFF -> timestampadd/timestampdiff unit form, etc.)

Anything outside this surface passes through untouched — Spark SQL is the
target dialect, and most Snowflake constructs (::casts, GROUP BY ordinal,
LIMIT/OFFSET, CTEs) already parse. Unknown constructs fail loudly in
Engine.execute with a QueryError carrying Spark's message.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# statement splitting (quote/comment-aware)
# ---------------------------------------------------------------------------


def split_statements(sql: str) -> list[str]:
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql)
    in_s: str | None = None  # "'" or '"'
    #: BEGIN/CASE ... END nesting depth — ';' inside an UNQUOTED scripting
    #: body (CREATE PROCEDURE ... AS BEGIN ...; END — legal Snowflake since
    #: the $$-less form landed) must not split. SQL CASE expressions also
    #: count (their plain END pairs with CASE); END IF/FOR/WHILE/LOOP/REPEAT
    #: close constructs whose openers never incremented, so they are no-ops,
    #: and END CASE closes a scripting CASE (counted once at CASE).
    depth = 0
    _tx = ("work", "transaction", "name")

    def _prev_word(pos: int) -> str:
        """Last identifier/keyword before sql[pos], skipping whitespace."""
        k = pos - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        e = k
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_$"):
            k -= 1
        return sql[k + 1 : e + 1].lower()

    def _scripting_stmt(head: str, word: str) -> bool:
        """BEGIN/CASE...END depth tracking only engages when the current
        statement is a scripting block — a bare BEGIN/DECLARE opener or a
        CREATE PROCEDURE/FUNCTION header. Plain SQL may legally use begin
        and end as identifiers/aliases (they are not reserved in
        Snowflake), so counting them there mis-merges statements."""
        h = head.lstrip().lower()
        if not h:
            return word == "begin"
        if h.startswith(("begin", "declare")):
            return True
        return h.startswith("create") and bool(
            re.search(r"\b(procedure|function)\b", h[:200])
        )

    while i < n:
        ch = sql[i]
        if in_s:
            buf.append(ch)
            if ch == in_s:
                if i + 1 < n and sql[i + 1] == in_s:  # escaped '' or ""
                    buf.append(sql[i + 1])
                    i += 1
                else:
                    in_s = None
        elif ch in ("'", '"'):
            in_s = ch
            buf.append(ch)
        elif ch == "$" and i + 1 < n and sql[i + 1] == "$":
            # $$-quoted body (UDF/procedure/scripting): verbatim through to
            # the closing $$ — ';' inside must not split
            j = sql.find("$$", i + 2)
            end = n if j < 0 else j + 2
            buf.append(sql[i:end])
            i = end
            continue
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
            continue
        elif ch == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            end = n if j < 0 else j + 2
            if (
                sql.startswith("/*+", i)
                and _prev_word(i) == "select"
                and "".join(buf).lstrip()[:6].lower() in ("create", "insert")
            ):
                # a REPARTITION/COALESCE hint in the query of a CTAS or
                # INSERT sets the layout of the files it writes: Spark
                # applies it (elsewhere hints stay comments, as in Snowflake)
                buf.append(sql[i:end])
            i = end
            continue
        elif ch == ";":
            if depth > 0:
                buf.append(ch)
            else:
                stmt = "".join(buf).strip()
                if stmt:
                    out.append(stmt)
                buf = []
        elif (ch.isalpha() or ch == "_") and (
            i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] in "_$")
        ):
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "_$"):
                j += 1
            word = sql[i:j].lower()
            if word in ("begin", "case", "end"):
                is_script = _scripting_stmt("".join(buf), word)
                # alias position (ts AS begin) — except the CREATE
                # PROCEDURE ... AS BEGIN body opener at depth 0
                alias_pos = _prev_word(i) == "as" and not (
                    word == "begin" and depth == 0 and is_script
                )
                if (i > 0 and sql[i - 1] == ".") or alias_pos or not is_script:
                    buf.append(sql[i:j])
                    i = j
                    continue
            if word in ("begin", "case"):
                # transaction BEGIN (BEGIN; / BEGIN WORK|TRANSACTION|NAME)
                # is a standalone statement, not a block opener
                k = j
                while k < n and sql[k].isspace():
                    k += 1
                nxt = ""
                if k < n and (sql[k].isalpha() or sql[k] == "_"):
                    e = k
                    while e < n and (sql[e].isalnum() or sql[e] == "_"):
                        e += 1
                    nxt = sql[k:e].lower()
                if not (
                    word == "begin" and (k >= n or sql[k] == ";" or nxt in _tx)
                ):
                    depth += 1
            elif word == "end" and depth > 0:
                k = j
                while k < n and sql[k].isspace():
                    k += 1
                nxt = ""
                if k < n and (sql[k].isalpha() or sql[k] == "_"):
                    e = k
                    while e < n and (sql[e].isalnum() or sql[e] == "_"):
                        e += 1
                    nxt = sql[k:e].lower()
                if nxt in ("if", "for", "while", "loop", "repeat"):
                    pass  # closes a construct whose opener never counted
                else:
                    depth -= 1
                    if nxt == "case":
                        # END CASE is one closer; skip the CASE token so it
                        # is not re-read as a new opener
                        buf.append(sql[i:e])
                        i = e
                        continue
            buf.append(sql[i:j])
            i = j
            continue
        else:
            buf.append(ch)
        i += 1
    stmt = "".join(buf).strip()
    if stmt:
        out.append(stmt)
    return out


# ---------------------------------------------------------------------------
# literal-safe token replacement
# ---------------------------------------------------------------------------

_STRING_RE = re.compile(r"'(?:[^']|'')*'")


def _outside_literals(sql: str, fn) -> str:
    """Apply fn to the chunks of sql that are not string literals."""
    parts: list[str] = []
    last = 0
    for m in _STRING_RE.finditer(sql):
        parts.append(fn(sql[last : m.start()]))
        parts.append(m.group(0))
        last = m.end()
    parts.append(fn(sql[last:]))
    return "".join(parts)


# simple rename map (same arity/arg-order in Spark)
_FN_RENAMES = {
    "IFF": "if",
    "NVL2": "nvl2",
    "TO_VARCHAR": "string",
    "TO_CHAR": "string",
    "TO_NUMBER": "double",
    "TO_DOUBLE": "double",
    "ARRAY_CONSTRUCT": "array",
    "OBJECT_CONSTRUCT": "named_struct",
    "LEN": "length",
    # Snowflake CHARINDEX(substr, str[, start]) == Spark position(substr,
    # str[, start]) — same arg order. (instr would silently swap the args.)
    "CHARINDEX": "position",
    "DATEADD": "timestampadd",
    "DATEDIFF": "timestampdiff",
    # TIMEADD/TIMEDIFF are documented aliases of DATEADD/DATEDIFF
    "TIMEADD": "timestampadd",
    "TIMEDIFF": "timestampdiff",
    # construction from parts (the 7-arg nanosecond TIMESTAMP_FROM_PARTS
    # form is rewritten in _rewrite_scalar_emulations_r3b first)
    "DATE_FROM_PARTS": "make_date",
    "TIMESTAMP_FROM_PARTS": "make_timestamp",
    "TIMESTAMP_NTZ_FROM_PARTS": "make_timestamp",
    "TIMESTAMP_LTZ_FROM_PARTS": "make_timestamp",
    "TIMESTAMP_TZ_FROM_PARTS": "make_timestamp",
    "TO_TIMESTAMP_NTZ": "to_timestamp",
    "SYSDATE": "current_timestamp",
    # array surface (same shape in Spark; arg-order divergences are handled
    # in _rewrite_scalar_emulations instead)
    "ARRAY_SIZE": "size",
    "ARRAY_CAT": "concat",
    "ARRAY_DISTINCT": "array_distinct",
    "ARRAYS_OVERLAP": "arrays_overlap",
    # ARRAY_EXCEPT / ARRAY_INTERSECTION: NOT renamed to Spark's set-based
    # builtins — Snowflake's are multiset ops (dedicated rewrite in
    # _rewrite_scalar_emulations_r3b)
    "ARRAY_TO_STRING": "array_join",
    "ARRAY_FLATTEN": "flatten",
    "ARRAY_MAX": "array_max",
    "ARRAY_MIN": "array_min",
    "ARRAY_REVERSE": "reverse",
    # string
    "EDITDISTANCE": "levenshtein",
    "STARTSWITH": "startswith",
    "ENDSWITH": "endswith",
    # datetime
    "WEEKISO": "weekofyear",
    "WEEK": "weekofyear",  # default WEEK policy (ISO weeks); call-sites only,
    # so DATEADD(week, ...) bare units are untouched
    "TO_TIMESTAMP_TZ": "to_timestamp",  # session-tz timestamp (no Spark twin;
    # to_timestamp_ltz/ntz ARE Spark 4 natives and pass through)
    # aggregates (same shape in Spark)
    "BOOLAND_AGG": "bool_and",
    "BOOLOR_AGG": "bool_or",
    "BITAND_AGG": "bit_and",
    "BITOR_AGG": "bit_or",
    "BITXOR_AGG": "bit_xor",
    "HLL": "approx_count_distinct",
    # mergeable HLL sketches (Snowflake HLL_ACCUMULATE/COMBINE/ESTIMATE ->
    # Spark's Apache DataSketches trio): per-partition sketches union
    # LOSSLESSLY, the distributed-distinct-count pattern at scale
    "HLL_ACCUMULATE": "hll_sketch_agg",
    "HLL_COMBINE": "hll_union_agg",
    "HLL_ESTIMATE": "hll_sketch_estimate",
    # NULL-skipping variants = the Spark natives (the bare names are
    # NULL-strict in Snowflake and rewritten in _rewrite_scalar_emulations_r3)
    "GREATEST_IGNORE_NULLS": "greatest",
    "LEAST_IGNORE_NULLS": "least",
    "BASE64_ENCODE": "base64",
    "HEX_ENCODE": "hex",
    "UUID_STRING": "uuid",
}

_TYPE_RENAMES = [
    (re.compile(r"\bTIMESTAMP_?(?:LTZ|TZ)\b", re.I), "TIMESTAMP"),
    (re.compile(r"\bTIMESTAMP_?NTZ\b", re.I), "TIMESTAMP_NTZ"),
    (re.compile(r"\bDATETIME\b", re.I), "TIMESTAMP_NTZ"),  # Snowflake alias
    (re.compile(r"\bVARBINARY\b", re.I), "BINARY"),
    # Snowflake BYTEINT is an alias for NUMBER(38,0) (all its int types
    # are), so 255::BYTEINT is legal there; SMALLINT keeps that working
    # where TINYINT's signed byte range would overflow under ANSI casts
    (re.compile(r"\bBYTEINT\b", re.I), "SMALLINT"),
    (re.compile(r"(::\s*)TEXT\b", re.I), r"\1STRING"),  # cast position only
    (re.compile(r"\bNUMBER\s*\(", re.I), "DECIMAL("),
    (re.compile(r"\bNUMBER\b", re.I), "DECIMAL(38,0)"),
    (re.compile(r"\bVARIANT\b", re.I), "STRING"),
    (re.compile(r"\bOBJECT\b(?!_)", re.I), "STRING"),
    (re.compile(r"\bVARCHAR\b(?!\s*\()", re.I), "STRING"),
    (re.compile(r"\bCHAR\b(?!\s*\()(?!INDEX)", re.I), "STRING"),
]

_TABLE_WRAPPER_RE = re.compile(
    r"\btable\s*\(\s*(to_query\s*\(\s*'(?:[^']|'')*'\s*\))\s*\)", re.I
)
_BACKREF_RE = re.compile(r"\\\\(\d)|\\(\d)")


def _rename_functions(chunk: str) -> str:
    def repl(m: re.Match) -> str:
        name = m.group(1).upper()
        return _FN_RENAMES.get(name, m.group(1)) + "("

    return re.sub(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", repl, chunk)


def _rename_types(chunk: str) -> str:
    for pat, rep in _TYPE_RENAMES:
        chunk = pat.sub(rep, chunk)
    return chunk


def _match_paren(sql: str, open_idx: int) -> int:
    """Index of the ')' closing the '(' at open_idx (quote-aware)."""
    depth, m, n = 0, open_idx, len(sql)
    in_s: str | None = None
    while m < n:
        ch = sql[m]
        if in_s:
            if ch == in_s:
                if m + 1 < n and sql[m + 1] == in_s:
                    m += 1
                else:
                    in_s = None
        elif ch in ("'", '"'):
            in_s = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return m
        m += 1
    return n - 1


def _split_top_args(argtext: str) -> list[str]:
    """Split a call's argument text at depth-0 commas (quote/paren-aware)."""
    parts: list[str] = []
    depth, buf = 0, []
    in_s: str | None = None
    i, n = 0, len(argtext)
    while i < n:
        ch = argtext[i]
        if in_s:
            buf.append(ch)
            if ch == in_s:
                if i + 1 < n and argtext[i + 1] == in_s:
                    buf.append(argtext[i + 1])
                    i += 1
                else:
                    in_s = None
        elif ch in ("'", '"'):
            in_s = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _rewrite_calls(sql: str, fname: str, rewrite) -> str:
    """Find every `fname(...)` call (paren-matched) and replace it with
    rewrite(list_of_top_level_args) -> str (None keeps the original text)."""
    out: list[str] = []
    i = 0
    lowered = sql.lower()
    target = fname.lower()
    while True:
        j = lowered.find(target, i)
        if j < 0:
            out.append(sql[i:])
            break
        # word boundary + must be a call
        if (j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_")):
            out.append(sql[i : j + len(target)])
            i = j + len(target)
            continue
        k = j + len(target)
        while k < len(sql) and sql[k].isspace():
            k += 1
        if k >= len(sql) or sql[k] != "(":
            out.append(sql[i : j + len(target)])
            i = j + len(target)
            continue
        m = _match_paren(sql, k)
        args = _split_top_args(sql[k + 1 : m])
        new = rewrite(args)
        out.append(sql[i:j])
        out.append(new if new is not None else sql[j : m + 1])
        i = m + 1
    return "".join(out)


def _fix_regexp_replace_backrefs(sql: str) -> str:
    """Inside REGEXP_REPLACE's REPLACEMENT argument (3rd arg only), rewrite
    '\\2'-style backrefs to Java's '$2' (reference query Q29 relies on this,
    clickbench.sql:146). The pattern (2nd) argument is left untouched — there
    '\\1' is a legitimate regex backreference and must survive."""

    def rw(args: list[str]) -> str | None:
        if len(args) < 3:
            return None
        args = list(args)
        args[2] = _STRING_RE.sub(
            lambda mm: _BACKREF_RE.sub(lambda b: "$" + (b.group(1) or b.group(2)), mm.group(0)),
            args[2],
        )
        return "regexp_replace(" + ",".join(args) + ")"

    return _rewrite_calls(sql, "regexp_replace", rw)


def _char_class(delims: str) -> str:
    """Delimiter-set string -> Spark-SQL-literal text of a Java regex char
    class matching any one of those characters ('.,' -> '[\\\\.\\\\,]')."""
    body = "".join(c if c.isalnum() else "\\\\" + c for c in delims)
    return "'[" + body.replace("'", "''") + "]'"


def _rewrite_scalar_emulations(sql: str) -> str:
    """Snowflake scalar functions with no same-shape Spark twin, rewritten by
    paren-matched call surgery (arity-changing, so the plain rename map can't
    express them): NULLIFZERO/ZEROIFNULL/SQUARE/TO_BOOLEAN/TRY_TO_*/
    REGEXP_SUBSTR."""
    one_arg = {
        "nullifzero": lambda a: f"nullif({a[0]}, 0)",
        "zeroifnull": lambda a: f"coalesce({a[0]}, 0)",
        "square": lambda a: f"power({a[0]}, 2)",
        # Snowflake's string set is Spark's cast set PLUS 'on'/'off'
        # (TRUE: true/t/yes/y/on/1, FALSE: false/f/no/n/off/0, any case);
        # the ELSE branch keeps Spark's native cast for everything else,
        # including the numeric nonzero->true path
        "to_boolean": lambda a: (
            f"(CASE WHEN lower(cast({a[0]} AS STRING)) = 'on' THEN true "
            f"WHEN lower(cast({a[0]} AS STRING)) = 'off' THEN false "
            f"ELSE cast({a[0]} AS BOOLEAN) END)"
        ),
        "try_to_boolean": lambda a: (
            f"(CASE WHEN lower(cast({a[0]} AS STRING)) = 'on' THEN true "
            f"WHEN lower(cast({a[0]} AS STRING)) = 'off' THEN false "
            f"ELSE try_cast({a[0]} AS BOOLEAN) END)"
        ),
        "try_to_double": lambda a: f"try_cast({a[0]} AS DOUBLE)",
        "try_to_date": lambda a: f"try_cast({a[0]} AS DATE)",
        "try_to_timestamp": lambda a: f"try_cast({a[0]} AS TIMESTAMP)",
    }
    for name, rw in one_arg.items():
        sql = _rewrite_calls(sql, name, lambda args, rw=rw: rw(args) if len(args) == 1 else None)
    # TRY_TO_NUMBER/DECIMAL/NUMERIC(x) -> DOUBLE (lenient, matches TO_NUMBER
    # above); the 3-arg (x, precision, scale) form -> exact DECIMAL(p,s)
    for name in ("try_to_number", "try_to_decimal", "try_to_numeric"):
        sql = _rewrite_calls(
            sql,
            name,
            lambda args: f"try_cast({args[0]} AS DOUBLE)"
            if len(args) == 1
            else (
                f"try_cast({args[0]} AS DECIMAL({args[1].strip()},{args[2].strip()}))"
                if len(args) == 3
                else None
            ),
        )
    # Snowflake SPLIT_PART treats part 0 as 1 (documented); Spark raises
    # INVALID_INDEX_OF_ZERO. Guard the index; constant folding erases the
    # CASE for literal parts.
    sql = _rewrite_calls(
        sql,
        "split_part",
        lambda a: (
            f"split_part({a[0]}, {a[1]}, "
            f"(CASE WHEN ({a[2]}) = 0 THEN 1 ELSE ({a[2]}) END))"
        )
        if len(a) == 3
        else None,
    )
    # Snowflake CONCAT_WS is NULL-poisoning (any NULL argument — separator
    # or value — makes the result NULL, like its CONCAT/||); Spark's skips
    # NULL values. r8 probe-sweep closure.
    sql = _rewrite_calls(
        sql,
        "concat_ws",
        lambda a: (
            "(CASE WHEN "
            + " OR ".join(f"({x}) IS NULL" for x in a)
            + f" THEN NULL ELSE concat_ws({', '.join(a)}) END)"
        )
        if len(a) >= 2
        else None,
    )
    # Snowflake ARRAY_CONTAINS(value, array) / ARRAY_POSITION(value, array)
    # take (value, array) — Spark's take (array, value). ARRAY_POSITION is
    # additionally 0-based returning NULL-if-absent vs Spark's 1-based
    # 0-if-absent.
    # Snowflake's documented signature REQUIRES the value as VARIANT
    # (ARRAY_CONTAINS(2::VARIANT, arr)); VARIANT is JSON text here, which
    # would break the equality's typing — strip the cast/wrapper and let
    # Spark's native coercion compare the raw value. (_unvariant is
    # module-level so the later r3 ARRAY_INSERT pass shares it.)
    sql = _rewrite_calls(
        sql,
        "array_contains",
        lambda a: f"array_contains({a[1]}, {_unvariant(a[0])})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "array_position",
        lambda a: f"(nullif(array_position({a[1]}, {_unvariant(a[0])}), 0) - 1)"
        if len(a) == 2
        else None,
    )
    # the array MUTATION family takes ::VARIANT/TO_VARIANT elements in
    # Snowflake (arrays are variant-typed there); over Spark's typed arrays
    # the element strips to its native value (r7 probe closure — same
    # convention as array_contains/array_position above)
    sql = _rewrite_calls(
        sql,
        "array_remove",
        lambda a: f"array_remove({a[0]}, {_unvariant(a[1])})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "array_append",
        lambda a: f"array_append({a[0]}, {_unvariant(a[1])})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "array_prepend",
        lambda a: f"array_prepend({a[0]}, {_unvariant(a[1])})" if len(a) == 2 else None,
    )
    # (ARRAY_INSERT has its own 0->1-based rewrite in the r3 pass below —
    # the element unwrap is applied there to avoid double position shifts)
    # MAP_SIZE over the engine's map/object convention: struct-built
    # OBJECT_CONSTRUCT chains serialize first (json_object_keys needs JSON
    # text); everything else (MAP_CAT output, variant columns) IS JSON text
    def map_size_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        if re.match(
            r"(?is)^\s*(object_construct(_keep_null)?|named_struct)\s*\(", a[0]
        ):
            return f"size(json_object_keys(to_json({a[0]})))"
        return f"size(json_object_keys({a[0]}))"

    sql = _rewrite_calls(sql, "map_size", map_size_rw)

    # binary-returning hash variants + MD5 64-bit halves (r7 probe
    # closures): Spark's sha1/sha2/md5 return hex text, so BINARY = unhex;
    # the MD5_NUMBER halves are unsigned 64-bit -> DECIMAL(20,0) via conv
    # (conv parses hex as unsigned, exactly Snowflake's NUMBER rendering).
    sql = _rewrite_calls(
        sql, "sha1_binary", lambda a: f"unhex(sha1({a[0]}))" if len(a) == 1 else None
    )
    sql = _rewrite_calls(
        sql,
        "sha2_binary",
        lambda a: f"unhex(sha2({a[0]}, {a[1] if len(a) == 2 else 256}))"
        if len(a) in (1, 2)
        else None,
    )
    sql = _rewrite_calls(
        sql, "md5_binary", lambda a: f"unhex(md5({a[0]}))" if len(a) == 1 else None
    )
    sql = _rewrite_calls(
        sql,
        "md5_number_lower64",
        lambda a: f"CAST(conv(substring(md5({a[0]}), 17, 16), 16, 10) AS DECIMAL(20,0))"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "md5_number_upper64",
        lambda a: f"CAST(conv(substring(md5({a[0]}), 1, 16), 16, 10) AS DECIMAL(20,0))"
        if len(a) == 1
        else None,
    )

    # MAP_KEYS over the same dual convention (r7 probe closure): struct-
    # built objects go through their JSON rendering; JSON-text objects
    # (PARSE_JSON / colon-path output) feed json_object_keys directly.
    # (Spark's native map_keys is unreachable from the Snowflake surface —
    # OBJECT_CONSTRUCT is named_struct and VARIANT objects are JSON text.)
    def map_keys_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        if re.match(
            r"(?is)^\s*(object_construct(_keep_null)?|named_struct)\s*\(", a[0]
        ):
            return f"json_object_keys(to_json({a[0]}))"
        return f"json_object_keys({a[0]})"

    sql = _rewrite_calls(sql, "map_keys", map_keys_rw)

    # SOUNDEX_P123 (r7 probe closure): Snowflake's variant keeps the code
    # of the SECOND letter when it duplicates the first letter's code
    # (SOUNDEX('Pfister')='P236' vs SOUNDEX_P123='P123' — hence the name);
    # everywhere else the two agree. Rebuild from Spark's soundex: when
    # code(letter1) == code(letter2) != vowel-class, splice the duplicate
    # digit back in and keep the first two surviving digits.
    def soundex_p123_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        s = a[0]
        letters = f"regexp_replace({s}, '[^A-Za-z]', '')"
        tbl = "'BFPVCGJKQSXZDTLMNRAEIOUYHW', '11112222222233455600000000'"
        c1 = f"translate(upper(substring({letters}, 1, 1)), {tbl})"
        c2 = f"translate(upper(substring({letters}, 2, 1)), {tbl})"
        sx = f"soundex({s})"
        return (
            f"(CASE WHEN {c1} <> '0' AND {c1} = {c2} "
            f"THEN concat(substring({sx}, 1, 1), {c2}, substring({sx}, 2, 2)) "
            f"ELSE {sx} END)"
        )

    sql = _rewrite_calls(sql, "soundex_p123", soundex_p123_rw)

    # UUID_STRING(namespace_uuid, name) — RFC 4122 v5 (the 0-arg v4 form is
    # a plain rename to Spark's uuid()): sha1 over namespace bytes || name
    # bytes, version nibble forced to 5 and the variant nibble to
    # (d & 0x3) | 0x8 — matches python uuid.uuid5 (pinned in tests).
    def uuid5_rw(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        h = (
            f"sha1(concat(unhex(replace(lower({a[0]}), '-', '')), "
            f"encode({a[1]}, 'UTF-8')))"
        )
        return (
            f"lower(concat(substr({h}, 1, 8), '-', substr({h}, 9, 4), '-5', "
            f"substr({h}, 14, 3), '-', "
            f"conv(CAST(conv(substr({h}, 17, 1), 16, 10) AS INT) % 4 + 8, 10, 16), "
            f"substr({h}, 18, 3), '-', substr({h}, 21, 12)))"
        )

    sql = _rewrite_calls(sql, "uuid_string", uuid5_rw)
    # ARRAY_SLICE(arr, from, to): 0-based, end-exclusive -> Spark slice(arr,
    # start 1-based, LENGTH)
    sql = _rewrite_calls(
        sql,
        "array_slice",
        lambda a: f"slice({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}))" if len(a) == 3 else None,
    )
    # ARRAY_COMPACT drops NULL elements
    sql = _rewrite_calls(
        sql,
        "array_compact",
        lambda a: f"filter({a[0]}, __e -> __e IS NOT NULL)" if len(a) == 1 else None,
    )
    # DATE_PART(part, expr): Snowflake accepts a BARE part keyword; Spark's
    # date_part needs a string literal. The epoch_* parts have no Spark
    # extract field — they map to the unix_* timestamp accessors.
    _EPOCH_PARTS = {
        "epoch": "unix_seconds(CAST({x} AS TIMESTAMP))",
        "epoch_second": "unix_seconds(CAST({x} AS TIMESTAMP))",
        "epoch_seconds": "unix_seconds(CAST({x} AS TIMESTAMP))",
        "epoch_millisecond": "unix_millis(CAST({x} AS TIMESTAMP))",
        "epoch_milliseconds": "unix_millis(CAST({x} AS TIMESTAMP))",
        "epoch_microsecond": "unix_micros(CAST({x} AS TIMESTAMP))",
        "epoch_microseconds": "unix_micros(CAST({x} AS TIMESTAMP))",
        "epoch_nanosecond": "unix_micros(CAST({x} AS TIMESTAMP)) * 1000L",
        "epoch_nanoseconds": "unix_micros(CAST({x} AS TIMESTAMP)) * 1000L",
    }

    # Snowflake part aliases Spark's extract-field grammar doesn't accept
    _PART_ALIASES = {"dayofyear": "doy", "yearday": "doy", "weekofyear": "week"}
    # Snowflake DAYOFWEEK (default WEEK_START=0) is 0=Sunday..6=Saturday;
    # Spark's dayofweek is 1=Sunday..7=Saturday (r8 probe sweep #6).
    _DOW_PARTS = {"dayofweek", "weekday", "dow", "dw"}
    _NANO_PARTS = {"nanosecond", "ns", "nsec", "nanosec", "nsecond",
                   "nanoseconds", "nanosecs", "nsecs"}

    def date_part_rw(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        part = a[0].strip().strip("'").lower()
        if part in _EPOCH_PARTS:
            return _EPOCH_PARTS[part].format(x=a[1])
        if part in _DOW_PARTS:
            return f"(dayofweek({a[1]}) - 1)"
        if part in _NANO_PARTS:  # nanos within the second, 0..999999999
            return f"(pmod(unix_micros(CAST({a[1]} AS TIMESTAMP)), 1000000) * 1000)"
        part = _PART_ALIASES.get(part, part)
        if re.fullmatch(r"[A-Za-z_]+", a[0].strip().strip("'")):
            return f"date_part('{part}', {a[1]})"
        return None

    # EXTRACT(dow-or-nano-or-epoch FROM x) -> the same date_part path (the
    # emitted call IS re-scanned by the date_part pass below); standard
    # fields stay native EXTRACT. Must run before date_part_rw, and the
    # standalone DAYOFWEEK(x) rewrite must run before date_part_rw too —
    # otherwise it would double-shift date_part's (dayofweek(x) - 1) output.
    _EXTRACT_SPECIAL = _DOW_PARTS | _NANO_PARTS | set(_EPOCH_PARTS)

    def extract_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        m = re.match(r"^\s*(\w+)\s+FROM\s+(.+)$", a[0], re.I | re.S)
        if m and m.group(1).lower() in _EXTRACT_SPECIAL:
            return f"date_part('{m.group(1).lower()}', {m.group(2)})"
        return None

    sql = _rewrite_calls(sql, "extract", extract_rw)
    # the standalone DAYOFWEEK(x) function has the same 0=Sunday convention
    # (Snowflake default WEEK_START=0; Spark's builtin is 1=Sunday..7)
    sql = _rewrite_calls(
        sql, "dayofweek",
        lambda a: f"(dayofweek({a[0]}) - 1)" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(sql, "date_part", date_part_rw)

    # TO_TIMESTAMP epoch forms (r7 probe closures; thresholds fixed r8):
    # - (numeric_or_digit_string, scale): value is seconds x 10^-scale
    # - single all-digit LITERAL: Snowflake's documented magnitude
    #   heuristic is VALUE-based, not digit-count-based — seconds below
    #   31536000000 (milliseconds in a year), then ms / us / ns at each
    #   further 10^3 (ADVICE r7: '50000000000' is 11 digits but >= the
    #   bound, so it is MILLISECONDS — 1971, not year 3554)
    # Column-typed single args keep Spark's cast semantics (the runtime
    # auto-epoch of integer-like STRINGS is not decidable textually —
    # documented standing divergence).
    def _ts_epoch_rw(a: list[str]) -> str | None:
        def emit(val: str, scale: int) -> str:
            if scale <= 6:
                return f"timestamp_micros(CAST({val} AS BIGINT) * {10 ** (6 - scale)})"
            return f"timestamp_micros(CAST({val} AS BIGINT) DIV {10 ** (scale - 6)})"

        if len(a) == 2 and re.fullmatch(r"[0-9]", a[1].strip()):
            v = a[0].strip()
            if re.fullmatch(r"-?[0-9]+", v) or re.fullmatch(r"'-?[0-9]+'", v):
                return emit(v.strip("'"), int(a[1].strip()))
            return None
        if len(a) == 1:
            m2 = re.fullmatch(r"'(-?[0-9]+)'", a[0].strip())
            if m2:
                v = abs(int(m2.group(1)))
                scale = (
                    0 if v < 31536000000
                    else 3 if v < 31536000000000
                    else 6 if v < 31536000000000000
                    else 9
                )
                return emit(m2.group(1), scale)
        return None

    sql = _rewrite_calls(sql, "to_timestamp", _ts_epoch_rw)
    sql = _rewrite_calls(sql, "try_to_timestamp", _ts_epoch_rw)

    # NTH_VALUE's FROM FIRST modifier is Spark's (only) default — strip it
    # (FROM LAST has no Spark spelling: standing, COVERAGE.md)
    sql = re.sub(r"(?is)\)\s*FROM\s+FIRST\s+(?=(?:IGNORE|RESPECT)\s+NULLS\b|OVER\b)", ") ", sql)

    # Snowflake interval strings separate units with commas; Spark's
    # multi-unit form is space-separated ('1 year, 3 months' -> '1 year 3 months')
    sql = re.sub(
        r"(?is)\bINTERVAL\s+'([^']*,[^']*)'",
        lambda m: "INTERVAL '" + re.sub(r"\s*,\s*", " ", m.group(1)) + "'",
        sql,
    )

    # EXTRACT(epoch_* FROM expr) is SYNTAX (not a call), so the call
    # rewriter never sees it — paren-match it to the same unix_* mapping
    def _extract_epoch(s: str) -> str:
        pat = re.compile(r"\bEXTRACT\s*\(\s*(epoch\w*)\s+FROM\s+", re.I)
        out: list[str] = []
        i = 0
        while True:
            m = pat.search(s, i)
            if not m:
                out.append(s[i:])
                break
            part = m.group(1).lower()
            open_p = s.index("(", m.start())
            close = _match_paren(s, open_p)
            if part not in _EPOCH_PARTS:
                out.append(s[i : close + 1])
            else:
                out.append(s[i : m.start()])
                out.append(_EPOCH_PARTS[part].format(x=s[m.end() : close]))
            i = close + 1
        return "".join(out)

    sql = _extract_epoch(sql)
    # DAYNAME/MONTHNAME: 3-letter abbreviations
    sql = _rewrite_calls(
        sql, "dayname", lambda a: f"date_format({a[0]}, 'EEE')" if len(a) == 1 else None
    )
    sql = _rewrite_calls(
        sql, "monthname", lambda a: f"date_format({a[0]}, 'MMM')" if len(a) == 1 else None
    )
    # DAYOFWEEKISO: 1=Monday..7=Sunday (Spark weekday() is 0=Monday..6)
    sql = _rewrite_calls(
        sql, "dayofweekiso", lambda a: f"(weekday({a[0]}) + 1)" if len(a) == 1 else None
    )
    # SYSTEM$TYPEOF asks for the SQL TYPE (not the VARIANT classification):
    # route to Spark's native typeof, masked so the VARIANT rule below
    # cannot capture it (type NAMES are engine-local: 'int' vs 'NUMBER')
    sql = _outside_literals(
        sql,
        lambda seg: re.sub(r"(?i)\bSYSTEM\$TYPEOF\s*\(", "__native_typeof(", seg),
    )
    # TYPEOF over our JSON-text VARIANTs: classify by JSON syntax (the same
    # mapping Snowflake reports for VARIANT values)
    sql = _rewrite_calls(
        sql,
        "typeof",
        lambda a: (
            f"CASE WHEN ({a[0]}) IS NULL THEN NULL"
            f" WHEN ({a[0]}) LIKE '{{%' THEN 'OBJECT'"
            f" WHEN ({a[0]}) LIKE '[%' THEN 'ARRAY'"
            f" WHEN ({a[0]}) = 'null' THEN 'NULL_VALUE'"
            f" WHEN ({a[0]}) IN ('true', 'false') THEN 'BOOLEAN'"
            f" WHEN ({a[0]}) RLIKE '^-?[0-9]+$' THEN 'INTEGER'"
            f" WHEN ({a[0]}) RLIKE '^-?[0-9]*\\\\.[0-9]+([eE][+-]?[0-9]+)?$' THEN 'DECIMAL'"
            f" ELSE 'VARCHAR' END"
        )
        if len(a) == 1
        else None,
    )
    sql = sql.replace("__native_typeof(", "typeof(")
    # OBJECT_KEYS over our JSON-text VARIANTs
    sql = _rewrite_calls(
        sql, "object_keys", lambda a: f"json_object_keys({a[0]})" if len(a) == 1 else None
    )
    # OBJECT_AGG(k, v) -> one JSON object per group (VARIANT is JSON text).
    # Entries sort by key: Snowflake leaves key order undefined, and sorted
    # output is deterministic under any partitioning
    sql = _rewrite_calls(
        sql,
        "object_agg",
        lambda a: "to_json(map_from_entries(array_sort("
        f"array_agg(struct({a[0]}, {a[1]})))))"
        if len(a) == 2
        else None,
    )
    # DIV0 / DIV0NULL: division that yields 0 instead of erroring on a zero
    # (or NULL, for DIV0NULL) divisor
    sql = _rewrite_calls(
        sql,
        "div0",
        lambda a: f"if(({a[1]}) = 0, 0, ({a[0]}) / ({a[1]}))" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "div0null",
        lambda a: f"if(({a[1]}) = 0 OR ({a[1]}) IS NULL, 0, ({a[0]}) / ({a[1]}))"
        if len(a) == 2
        else None,
    )
    # REGEXP_SUBSTR(subject, pattern) -> first-match substring = group 0
    sql = _rewrite_calls(
        sql,
        "regexp_substr",
        lambda args: f"regexp_extract({args[0]}, {args[1]}, 0)" if len(args) == 2 else None,
    )
    # GET_PATH(v, 'a.b') == v:a.b (VARIANT is JSON text here). Segments
    # double-quoted in Snowflake's path grammar ('"$"', 'a."x y".b') carry
    # characters that break dotted JSONPath — emit them in bracket form
    # ($['$']), which Spark's get_json_object accepts.
    def _get_path_rw(args: list[str]) -> str | None:
        if len(args) != 2 or not _STRING_RE.fullmatch(args[1].strip()):
            return None
        path = args[1].strip()[1:-1]
        out, i = "$", 0
        while i < len(path):
            c = path[i]
            if c == ".":
                i += 1
                continue
            if c == '"':
                j = path.find('"', i + 1)
                if j < 0:  # unterminated quoted segment: leave unrewritten
                    return None
                out += f"['{path[i + 1 : j]}']"
                i = j + 1
            else:
                j = i
                while j < len(path) and path[j] != ".":
                    j += 1
                out += "." + path[i:j]
                i = j
        return f"get_json_object({args[0]}, '{out.replace(chr(39), chr(39) * 2)}')"

    sql = _rewrite_calls(sql, "get_path", _get_path_rw)
    return sql


_NUM_FMT_RE = re.compile(r"^'(\$?)([9 0,]+)(?:\.([90]+))?'$")


def _rewrite_scalar_emulations_r4(sql: str) -> str:
    """Round-4 surface (probe-driven gaps):

    - STRTOK(str[, delims[, part]]): token #part (1-based) of the ANY-char
      split; NULL past the end (try_element_at). Emits a textual
      STRTOK_TO_ARRAY call so the shared any-char-split rewrite (which runs
      AFTER this ring) handles the delimiter-class mechanics once.
    - BOOLAND/BOOLOR/BOOLXOR/BOOLNOT: numeric-to-boolean logic with SQL
      three-valued NULL semantics (Snowflake's: BOOLAND(0, NULL) = FALSE,
      BOOLAND(1, NULL) = NULL — exactly AND/OR on (x <> 0)).
    - TO_CHAR(num, 'fmt') numeric subset: $ prefix, thousands separators,
      fixed decimals, 0-padded width. Snowflake does not blank-pad, so
      format_number (grouped) / round+lpad (zero-filled) cover the common
      formats; exotic elements (EEEE, B, S, X) fall through to the plain
      TO_CHAR->string rename and fail loudly if reached.
    - OBJECT_KEYS over a struct-typed input (OBJECT_CONSTRUCT chains):
      serialize with to_json first — json_object_keys needs JSON text. The
      plain string-VARIANT form is handled in the r1 ring.
    """
    def strtok_rw(a: list[str]) -> str | None:
        if len(a) == 1:
            return f"try_element_at(strtok_to_array({a[0]}), 1)"
        if len(a) == 2:
            return f"try_element_at(strtok_to_array({a[0]}, {a[1]}), 1)"
        if len(a) == 3:
            return f"try_element_at(strtok_to_array({a[0]}, {a[1]}), {a[2]})"
        return None

    sql = _rewrite_calls(sql, "strtok", strtok_rw)
    sql = _rewrite_calls(
        sql, "booland",
        lambda a: f"((({a[0]}) <> 0) AND (({a[1]}) <> 0))" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "boolor",
        lambda a: f"((({a[0]}) <> 0) OR (({a[1]}) <> 0))" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "boolxor",
        lambda a: f"((({a[0]}) <> 0) <> (({a[1]}) <> 0))" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "boolnot",
        lambda a: f"(NOT (({a[0]}) <> 0))" if len(a) == 1 else None,
    )

    def to_char_num(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        m = _NUM_FMT_RE.match(a[1].strip())
        if not m:
            return None  # datetime formats handled elsewhere; else rename
        dollar, intpart, decpart = m.groups()
        d = len(decpart) if decpart else 0
        if intpart.replace(",", "").replace(" ", "").strip("9") == "" :
            # all-9s: grouped when ',' present, plain otherwise
            body = f"format_number(CAST({a[0]} AS DOUBLE), {d})"
            if "," not in intpart:
                body = f"replace({body}, ',', '')"
        elif set(intpart.replace(",", "")) <= {"0"}:
            width = len(intpart.replace(",", ""))
            if d:
                # round FIRST, then split the one consistent value — else the
                # rounding carry is lost (TO_CHAR(3.999,'0000.00') must be
                # '0004.00', not '0003.00'). ADVICE r4 #2.
                r = f"round(abs(CAST({a[0]} AS DOUBLE)), {d})"
                body = (
                    f"concat(lpad(CAST(CAST(floor({r}) AS BIGINT) AS STRING), {width}, '0'),"
                    f" '.', split(format_number({r}, {d}), '\\\\.')[1])"
                )
            else:
                body = f"lpad(CAST(CAST(round({a[0]}) AS BIGINT) AS STRING), {width}, '0')"
            body = f"concat(CASE WHEN ({a[0]}) < 0 THEN '-' ELSE '' END, {body})"
        else:
            return None
        return f"concat('{'$' if dollar else ''}', {body})" if dollar else body

    sql = _rewrite_calls(sql, "to_char", to_char_num)
    sql = _rewrite_calls(sql, "to_varchar", to_char_num)
    sql = _rewrite_calls(
        sql,
        "object_keys",
        lambda a: (
            f"json_object_keys(to_json({a[0]}))"
            if len(a) == 1
            and re.match(r"(?is)^\s*(object_construct|named_struct)\s*\(", a[0])
            else None
        ),
    )
    return sql


#: Snowflake collation specifier -> Spark 4 collation name. Snowflake specs
#: are locale[-modifiers]; Spark 4's collation framework covers the
#: comparison semantics the engine needs: ci -> case-insensitive,
#: ci+ai -> accent+case-insensitive, 'lower'/'upper' (preprocessing
#: collations) -> lowercase comparison, bare utf8 -> binary.
def _spark_collation(spec: str) -> str:
    s = spec.lower()
    parts = set(s.replace("=", "-").split("-"))
    if s in ("utf8", ""):
        return "UTF8_BINARY"
    if s in ("lower", "upper"):
        return "UTF8_LCASE"
    if "ci" in parts and "ai" in parts:
        return "UNICODE_CI_AI"
    if "ci" in parts:
        return "UNICODE_CI"
    if "ai" in parts:
        return "UNICODE_AI"
    return "UNICODE"


def _rewrite_scalar_emulations_r5(sql: str) -> str:
    """Round-5 surface (probe-driven gaps):

    - DIFFERENCE(a, b): positional match count (0-4) of the two SOUNDEX
      codes (the SQL-Server-style companion Snowflake ships next to
      SOUNDEX).
    - SEQ1/SEQ2/SEQ4/SEQ8(): per-row monotonically increasing integers,
      wrapped at the byte width like Snowflake's (values are engine-local —
      Snowflake documents them as "not necessarily gap-free/ordered"; the
      contract is uniqueness-per-width, which monotonically_increasing_id
      provides).
    - MINHASH(k, e): Snowflake's minhash sketch AGGREGATE -> array of k
      min(xxhash64(i, xxhash64(e))) — the same permutation family as
      operators/dedup.py, so SQL-level sketches and the dedup operators
      share semantics. Hash values differ from Snowflake's proprietary
      function; the estimator contract (Jaccard approximation) matches.
    - MINHASH_COMBINE(mh): elementwise min across the aggregated sketches
      (sketch union).
    - APPROXIMATE_JACCARD_INDEX / APPROXIMATE_SIMILARITY(mh): fraction of
      sketch positions on which ALL aggregated sketches agree — the
      standard minhash Jaccard estimator.
    - COLLATE: postfix `expr COLLATE 'spec'` and 2-arg COLLATE(expr,
      'spec') -> Spark 4's native collation framework (_spark_collation
      maps ci/ai/lower specs).
    """
    # string/object odds and ends
    sql = _rewrite_calls(
        sql, "unicode", lambda a: f"ascii({a[0]})" if len(a) == 1 else None
    )  # Spark's ascii returns the full first code point, = Snowflake UNICODE
    sql = _rewrite_calls(
        sql, "hammingdist",
        lambda a: (
            f"size(filter(zip_with(split({a[0]}, ''), split({a[1]}, ''), "
            f"(__x, __y) -> __x <=> __y), __e -> NOT __e))"
        )
        if len(a) == 2
        else None,
    )
    sql = _rewrite_calls(
        sql, "hamming_distance",
        lambda a: (
            f"size(filter(zip_with(split({a[0]}, ''), split({a[1]}, ''), "
            f"(__x, __y) -> __x <=> __y), __e -> NOT __e))"
        )
        if len(a) == 2
        else None,
    )
    sql = _rewrite_calls(
        sql, "arrays_to_object",
        lambda a: f"map_from_arrays({a[0]}, {a[1]})" if len(a) == 2 else None,
    )
    def map_cat_rw(a: list[str]) -> str | None:
        # OBJECT merge over the struct-objects OBJECT_CONSTRUCT builds:
        # serialize both to JSON text and splice (result is VARIANT text,
        # the engine's OBJECT representation)
        if len(a) != 2:
            return None
        ja, jb = f"to_json({a[0]})", f"to_json({a[1]})"
        return (
            f"(CASE WHEN {ja} = '{{}}' THEN {jb} WHEN {jb} = '{{}}' THEN {ja} "
            f"ELSE concat(substr({ja}, 1, length({ja}) - 1), ',', substr({jb}, 2)) END)"
        )

    sql = _rewrite_calls(sql, "map_cat", map_cat_rw)
    sql = _rewrite_calls(sql, "object_cat", map_cat_rw)

    # data-generation family (Snowflake's GENERATOR companions). The `gen`
    # argument (RANDOM() / RANDOM(seed) / literal) maps onto Spark's rand().
    def _gen_arg(g: str) -> str:
        g = g.strip()
        m = re.match(r"(?is)^RANDOM\s*\(\s*(\d+)?\s*\)$", g)
        if m:
            return f"rand({m.group(1)})" if m.group(1) else "rand()"
        if re.fullmatch(r"\d+", g):
            return f"rand({g})"
        return "rand()"

    sql = _rewrite_calls(
        sql, "uniform",
        lambda a: (
            f"CAST(({a[0]}) + floor({_gen_arg(a[2])} * (({a[1]}) - ({a[0]}) + 1)) AS BIGINT)"
        )
        if len(a) == 3
        else None,
    )
    sql = _rewrite_calls(
        sql, "normal",
        lambda a: f"(({a[0]}) + ({a[1]}) * randn())" if len(a) == 3 else None,
    )

    def zipf_rw(a: list[str]) -> str | None:
        # ZIPF(s, N, gen): P(k) ∝ 1/k^s. With literal s and N the CDF is a
        # compile-time table; the sample is "first k whose CDF >= u" =
        # count of CDF entries < u, plus 1. Exact inverse-CDF sampling.
        if len(a) != 3:
            return None
        try:
            s_v, n_v = float(a[0]), int(a[1])
        except ValueError:
            return None
        if not 1 <= n_v <= 4096:
            return None
        weights = [1.0 / (k ** s_v) for k in range(1, n_v + 1)]
        total = sum(weights)
        acc, cdf = 0.0, []
        for w in weights:
            acc += w
            cdf.append(repr(acc / total))
        arr = "array(" + ",".join(f"{c}D" for c in cdf) + ")"
        return f"CAST(size(filter({arr}, __c -> __c < {_gen_arg(a[2])})) + 1 AS BIGINT)"

    sql = _rewrite_calls(sql, "zipf", zipf_rw)
    # session time spellings
    def _noargs(out: str):
        return lambda a: out if len(a) <= 1 and not (a and a[0].strip()) else None

    sql = _rewrite_calls(sql, "localtime", _noargs("date_format(localtimestamp(), 'HH:mm:ss')"))
    sql = _rewrite_calls(sql, "current_time", _noargs("date_format(current_timestamp(), 'HH:mm:ss')"))
    sql = _rewrite_calls(sql, "systimestamp", _noargs("current_timestamp()"))
    sql = _rewrite_calls(sql, "all_user_names", _noargs("array(current_user())"))
    # ANSI niladic keyword forms (no parens — Spark only parses the
    # function spellings): LOCALTIMESTAMP first so LOCALTIME can't nibble
    # its prefix (word boundary already prevents it; order is belt and
    # braces). Expression position only: a column or alias NAMED localtime
    # (SELECT 1 AS LOCALTIME, t."LOCALTIME", x.localtime) must survive the
    # rewrite (ADVICE r6 low), so matches preceded by AS / '.' / a quote,
    # or followed by a quote, are left alone.
    def _niladic_session_ts(s: str) -> str:
        def _sub(pattern: str, repl: str, text: str) -> str:
            def do(m: "re.Match[str]") -> str:
                i, j = m.start(), m.end()
                if i > 0 and text[i - 1] in '"`.':
                    return m.group(0)
                if j < len(text) and text[j] in '"`':
                    return m.group(0)
                if re.search(r"(?i)\bAS$", text[:i].rstrip()):
                    return m.group(0)
                return repl

            return re.sub(pattern, do, text, flags=re.I)

        s = _sub(r"\bLOCALTIMESTAMP\b(?!\s*\()", "localtimestamp()", s)
        return _sub(
            r"\bLOCALTIME\b(?!\s*\()",
            "date_format(localtimestamp(), 'HH:mm:ss')",
            s,
        )

    sql = _outside_literals(sql, _niladic_session_ts)
    # numeric TRUNCATE/TRUNC (toward zero, optional scale); the date form
    # TRUNC(d, 'MONTH') has a string second arg and falls through to Spark
    def trunc_rw(a: list[str]) -> str | None:
        if len(a) == 1:
            d = "0"
        elif len(a) == 2 and not _STRING_RE.fullmatch(a[1].strip()):
            d = a[1].strip()
        else:
            return None
        x = a[0]
        return (
            f"(CASE WHEN ({x}) < 0 THEN -floor(-({x}) * pow(10, {d})) / pow(10, {d}) "
            f"ELSE floor(({x}) * pow(10, {d})) / pow(10, {d}) END)"
        )

    sql = _rewrite_calls(sql, "truncate", trunc_rw)
    sql = _rewrite_calls(sql, "trunc", trunc_rw)

    # ANSI OFFSET n ROWS / FETCH {FIRST|NEXT} m ROWS ONLY (Snowflake
    # accepts both spellings; Spark wants LIMIT m OFFSET n)
    sql = re.sub(
        r"(?is)\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b",
        r"LIMIT \2 OFFSET \1",
        sql,
    )
    sql = re.sub(
        r"(?is)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b", r"LIMIT \1", sql
    )
    sql = re.sub(r"(?is)\bOFFSET\s+(\d+)\s+ROWS?\b", r"OFFSET \1", sql)

    # TO_NUMBER/TO_DECIMAL/TO_NUMERIC long forms: (x, p, s) -> DECIMAL(p,s)
    # cast; (x, 'fmt'[, p, s]) strips grouping/currency characters first
    # (the format's job in Snowflake is mostly to LICENSE those characters)
    def to_number_rw(a: list[str]) -> str | None:
        if len(a) == 1:
            return None  # 1-arg handled by the rename map
        args = [x.strip() for x in a]
        fmt_lit = _STRING_RE.fullmatch(args[1])
        if fmt_lit:
            stripped = f"replace(replace(replace({args[0]}, ',', ''), '$', ''), ' ', '')"
            if len(args) == 2:
                d = args[1][1:-1].split(".")
                scale = len(d[1]) if len(d) > 1 else 0
                return f"CAST({stripped} AS DECIMAL(38, {scale}))"
            if len(args) == 4:
                return f"CAST({stripped} AS DECIMAL({args[2]}, {args[3]}))"
            return None
        if len(args) == 3:
            return f"CAST({args[0]} AS DECIMAL({args[1]}, {args[2]}))"
        if len(args) == 2:
            return f"CAST({args[0]} AS DECIMAL({args[1]}, 0))"
        return None

    for n in ("to_number", "to_decimal", "to_numeric"):
        sql = _rewrite_calls(sql, n, to_number_rw)
    sql = _rewrite_calls(
        sql, "try_to_number",
        lambda a: f"TRY_CAST({a[0]} AS DECIMAL({a[1]}, {a[2]}))" if len(a) == 3 else None,
    )
    # TIME surface (r8 continuation probe): ::TIME casts, CAST AS TIME, and
    # TIMEADD over time values normalize onto the canonical string mapping
    # BEFORE the TO_TIME rewrites below consume them
    sql = _rewrite_time_surface(sql)
    # TO_TIME: Spark has no released TIME type — the canonical 'HH:mm:ss'
    # string is the honest local mapping (sorts and equality-compares
    # correctly). 1-arg accepts time strings AND timestamps/timestamp
    # strings (time-of-day extraction); 2-arg maps the Snowflake format
    # through the shared token table. TO_TIME stays strict on garbage
    # (second coalesce branch errors); TRY_TO_TIME yields NULL.
    from universql_spark.copy_into import _map_datetime_format as _mdf  # noqa: PLC0415

    def to_time_rw(strict: bool):
        outer = "to_timestamp" if strict else "try_to_timestamp"

        def rw(a: list[str]) -> str | None:
            if len(a) == 1:
                return (
                    f"date_format(coalesce("
                    f"try_to_timestamp(concat('1970-01-01 ', CAST({a[0]} AS STRING))), "
                    f"{outer}(CAST({a[0]} AS STRING))), 'HH:mm:ss')"
                )
            if len(a) == 2 and _STRING_RE.fullmatch(a[1].strip()):
                fmt = _mdf(a[1].strip()[1:-1])
                return f"date_format({outer}({a[0]}, '{fmt}'), 'HH:mm:ss')"
            return None

        return rw

    sql = _rewrite_calls(sql, "to_time", to_time_rw(True))
    sql = _rewrite_calls(sql, "try_to_time", to_time_rw(False))
    # INITCAP(x[, delims]): capitalize the char after ANY delimiter char
    # (first char always); positional transform over the char array.
    # The 1-arg form uses Snowflake's documented default delimiter set —
    # whitespace PLUS punctuation (so 'sql-code' -> 'Sql-Code'), where
    # Spark's native initcap splits on whitespace only.
    sf_initcap_delims = (
        """' \\t\\n\\r!?@"^#$&~_,.:;+-*%/|\\\\[](){}<>'"""
    )

    def initcap2_rw(a: list[str]) -> str | None:
        if len(a) == 1:
            a = [a[0], sf_initcap_delims]
        if len(a) != 2:
            return None
        x, d = a[0], a[1]
        return (
            f"array_join(transform(split({x}, ''), (__c, __i) -> "
            f"CASE WHEN __i = 0 OR contains({d}, element_at(split({x}, ''), __i)) "
            f"THEN upper(__c) ELSE lower(__c) END), '')"
        )

    sql = _rewrite_calls(sql, "initcap", initcap2_rw)
    # TO_VARIANT: JSON-text encoding of any value — to_json handles quoting
    # and escaping for every type; wrap in a 1-element array and strip the
    # brackets (to_json rejects bare scalars)
    sql = _rewrite_calls(
        sql, "to_variant",
        lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE "
            f"substr(to_json(array({a[0]})), 2, length(to_json(array({a[0]}))) - 2) END)"
        )
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql, "to_object",
        lambda a: f"(CASE WHEN ({a[0]}) LIKE '{{%' THEN {a[0]} END)"
        if len(a) == 1
        else None,
    )

    # VARIANT predicates/casts over the JSON-text representation (same
    # classification rules as the TYPEOF emulation): IS_* test the JSON
    # syntax class, AS_* return the value when the class matches else NULL
    # (Snowflake's contract), STRIP_NULL_VALUE maps JSON null -> SQL NULL.
    _INT_RE_SQL = "'^-?[0-9]+$'"
    _NUM_RE_SQL = "'^-?[0-9]+(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$'"

    def _is(cls_expr: str):
        return lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE {cls_expr.format(v=a[0])} END)"
            if len(a) == 1
            else None
        )

    # IS_NULL_VALUE must distinguish JSON null from a MISSING path (TRUE vs
    # SQL NULL) — get_json_object collapses both to SQL NULL, so when the
    # argument is a path extraction, re-extract through Spark's variant
    # functions (variant_get keeps JSON null as a variant-null;
    # is_variant_null detects exactly it; a missing path is SQL NULL).
    # Plain JSON-text arguments keep the text test (r8 probe sweep #5).
    def _isnull_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        g = _rewrite_colon_paths(a[0]).strip()
        if g.lower().startswith("get_json_object"):
            k = g.find("(")
            close = _match_paren(g, k)
            if close == len(g) - 1:
                inner = _split_top_args(g[k + 1 : close])
                if len(inner) == 2:
                    vg = f"variant_get(try_parse_json({inner[0]}), {inner[1]})"
                    return (
                        f"(CASE WHEN {vg} IS NULL THEN NULL "
                        f"ELSE is_variant_null({vg}) END)"
                    )
        return f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE ({a[0]}) = 'null' END)"

    sql = _rewrite_calls(sql, "is_null_value", _isnull_rw)
    sql = _rewrite_calls(sql, "is_integer", _is(f"({{v}}) RLIKE {_INT_RE_SQL}"))
    sql = _rewrite_calls(
        sql, "is_decimal", _is(f"({{v}}) RLIKE '^-?[0-9]+(\\\\.[0-9]+)?$'")
    )
    sql = _rewrite_calls(sql, "is_double", _is(f"({{v}}) RLIKE {_NUM_RE_SQL}"))
    sql = _rewrite_calls(sql, "is_varchar", _is("({v}) LIKE '\"%'"))
    sql = _rewrite_calls(sql, "is_char", _is("({v}) LIKE '\"%'"))
    sql = _rewrite_calls(sql, "is_array", _is("({v}) LIKE '[%'"))
    sql = _rewrite_calls(sql, "is_object", _is("({v}) LIKE '{{%'"))
    sql = _rewrite_calls(sql, "is_boolean", _is("({v}) IN ('true', 'false')"))
    # temporal variants: under the JSON-text convention TO_VARIANT(date/
    # time/timestamp) yields the quoted ISO rendering — the IS_* predicate
    # is a shape test on that rendering. KNOWN DIVERGENCE (ADVICE r7,
    # COVERAGE.md "Known divergences"): a variant STRING whose rendering
    # happens to be date-shaped (PARSE_JSON('"2024-01-02"')) classifies
    # TRUE here, whereas Snowflake tracks the variant's stored type and
    # returns FALSE for string-typed variants. The JSON-text encoding
    # cannot distinguish TO_VARIANT(DATE) from a same-rendering string;
    # pinned by tests/test_engine.py::test_advice_r7_dialect_edges.
    sql = _rewrite_calls(
        sql, "is_date",
        _is("({v}) RLIKE '^\"[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}\"$'"),
    )
    sql = _rewrite_calls(
        sql, "is_date_value",
        _is("({v}) RLIKE '^\"[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}\"$'"),
    )
    sql = _rewrite_calls(
        sql, "is_time",
        _is("({v}) RLIKE '^\"[0-9]{{2}}:[0-9]{{2}}:[0-9]{{2}}\"$'"),
    )
    for _ts in ("is_timestamp_ltz", "is_timestamp_ntz", "is_timestamp_tz"):
        sql = _rewrite_calls(
            sql, _ts,
            _is("({v}) RLIKE '^\"[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}[ T][0-9]{{2}}:[0-9]{{2}}:[0-9]{{2}}'"),
        )

    def _as(cond: str, value: str):
        return lambda a: (
            f"(CASE WHEN {cond.format(v=a[0])} THEN {value.format(v=a[0])} END)"
            if len(a) == 1
            else None
        )

    sql = _rewrite_calls(
        sql, "as_integer",
        _as(f"({{v}}) RLIKE {_INT_RE_SQL}", "CAST({v} AS BIGINT)"),
    )
    sql = _rewrite_calls(
        sql, "as_number",
        _as(f"({{v}}) RLIKE {_INT_RE_SQL}", "CAST({v} AS BIGINT)"),
    )
    sql = _rewrite_calls(
        sql, "as_double",
        _as(f"({{v}}) RLIKE {_NUM_RE_SQL}", "CAST({v} AS DOUBLE)"),
    )
    sql = _rewrite_calls(
        sql, "as_decimal",
        _as(f"({{v}}) RLIKE {_NUM_RE_SQL}", "CAST({v} AS DOUBLE)"),
    )
    for n in ("as_varchar", "as_char"):
        sql = _rewrite_calls(
            sql, n,
            _as("({v}) LIKE '\"%'", "get_json_object({v}, '$')"),
        )
    sql = _rewrite_calls(sql, "as_array", _as("({v}) LIKE '[%'", "{v}"))
    sql = _rewrite_calls(sql, "as_object", _as("({v}) LIKE '{{%'", "{v}"))
    sql = _rewrite_calls(
        sql, "as_boolean",
        lambda a: (
            f"(CASE WHEN ({a[0]}) = 'true' THEN TRUE "
            f"WHEN ({a[0]}) = 'false' THEN FALSE END)"
        )
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql, "strip_null_value",
        lambda a: f"(CASE WHEN ({a[0]}) = 'null' THEN NULL ELSE {a[0]} END)"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql, "json_extract_path_text",
        lambda a: f"get_json_object({a[0]}, '$.{a[1].strip()[1:-1]}')"
        if len(a) == 2 and _STRING_RE.fullmatch(a[1].strip())
        else None,
    )

    # MIN_BY/MAX_BY(x, y, n): the top-N form returns an ARRAY of x for the
    # n lowest/highest y (NULL y rows ignored, Snowflake's contract); ties
    # break deterministically on (y, x) via the struct sort
    def minmax_by(desc: bool):
        def rw(a: list[str]) -> str | None:
            if len(a) != 3:
                return None
            x, y, n = a
            arr = (
                f"array_sort(collect_list(CASE WHEN ({y}) IS NOT NULL "
                f"THEN struct({y} AS k, {x} AS v) END))"
            )
            if desc:
                arr = f"reverse({arr})"
            return f"slice(transform({arr}, s -> s.v), 1, {n})"

        return rw

    sql = _rewrite_calls(sql, "min_by", minmax_by(False))
    sql = _rewrite_calls(sql, "max_by", minmax_by(True))
    sql = _rewrite_calls(
        sql, "variance_pop", lambda a: f"var_pop({a[0]})" if len(a) == 1 else None
    )
    sql = _rewrite_calls(
        sql, "variance_samp", lambda a: f"var_samp({a[0]})" if len(a) == 1 else None
    )
    # OBJECT_CONSTRUCT(*): object of ALL columns -> struct(*) (named_struct,
    # the keyed mapping below, cannot take a star)
    sql = _rewrite_calls(
        sql,
        "object_construct",
        lambda a: "struct(*)" if len(a) == 1 and a[0].strip() == "*" else None,
    )

    def _re_flags(params: str) -> str:
        """'is' etc. -> an (?is) inline-flag prefix for the Java regex."""
        if not _STRING_RE.fullmatch(params.strip()):
            return ""
        mods = "".join(c for c in params.strip()[1:-1] if c in "ims")
        return f"(?{mods})" if mods else ""

    def _flagged(pat: str, pref: str) -> str:
        return f"concat('{pref}', {pat})" if pref else pat

    # REGEXP_SUBSTR(s, pat, pos[, occ[, params[, group]]]) — Spark's
    # builtin stops at 2 args; occurrence selection via regexp_extract_all +
    # try_element_at (NULL past the last match, Snowflake's contract)
    def regexp_substr_rw(a: list[str]) -> str | None:
        if not 3 <= len(a) <= 6:
            return None
        s, pat = a[0], a[1]
        pos = a[2].strip()
        occ = a[3].strip() if len(a) >= 4 else "1"
        pref = _re_flags(a[4]) if len(a) >= 5 else ""
        grp = a[5].strip() if len(a) == 6 else (
            "1" if len(a) >= 5 and "e" in a[4] else "0"
        )
        return (
            f"try_element_at(regexp_extract_all(substr({s}, {pos}), "
            f"{_flagged(pat, pref)}, {grp}), CAST({occ} AS INT))"
        )

    sql = _rewrite_calls(sql, "regexp_substr", regexp_substr_rw)

    # REGEXP_REPLACE(s, pat, rep, pos, occ[, params]): occurrence 0 = all
    # from pos; occurrence N rebuilds the string from split() segments +
    # regexp_extract_all matches — s == seg1 m1 seg2 … mn seg_{n+1}, so the
    # Nth match swaps for the replacement and everything else concatenates
    # back verbatim (all JVM builtins, no UDF)
    def regexp_replace_rw(a: list[str]) -> str | None:
        if len(a) not in (5, 6):
            return None
        s, pat, rep = a[0], a[1], a[2]
        pos, occ = a[3].strip(), a[4].strip()
        pref = _re_flags(a[5]) if len(a) == 6 else ""
        p = _flagged(pat, pref)
        t = f"substr({s}, {pos})"
        if occ == "0":
            return f"concat(substr({s}, 1, ({pos}) - 1), regexp_replace({t}, {p}, {rep}))"
        segs = f"split({t}, {p}, -1)"
        ms = f"regexp_extract_all({t}, {p}, 0)"
        o = f"CAST({occ} AS INT)"
        prefix = (
            f"CASE WHEN {o} > 1 THEN aggregate(sequence(1, {o} - 1), '', "
            f"(acc, i) -> concat(acc, element_at({segs}, i), element_at({ms}, i))) "
            f"ELSE '' END"
        )
        suffix = (
            f"CASE WHEN {o} < size({ms}) THEN aggregate(sequence({o} + 1, size({ms})), '', "
            f"(acc, j) -> concat(acc, element_at({ms}, j), element_at({segs}, j + 1))) "
            f"ELSE '' END"
        )
        # Expand group references in the replacement exactly like the occ=0
        # native path (ADVICE r5 #3): re-run regexp_replace over JUST the
        # Nth matched text, anchored in a non-capturing wrapper so group
        # numbering is unchanged and the whole match is consumed. Literal
        # replacements behave identically; $1-style refs now expand.
        rep_exp = (
            f"regexp_replace(element_at({ms}, {o}), "
            f"concat('^(?:', {p}, ')$'), {rep})"
        )
        return (
            f"concat(substr({s}, 1, ({pos}) - 1), "
            f"CASE WHEN size({ms}) < {o} THEN {t} ELSE "
            f"concat({prefix}, element_at({segs}, {o}), {rep_exp}, "
            f"element_at({segs}, {o} + 1), {suffix}) END)"
        )

    sql = _rewrite_calls(sql, "regexp_replace", regexp_replace_rw)

    # REGEXP_COUNT(s, pat[, pos[, params]]) — Spark's builtin stops at 2
    # args; position offsets via substr, params via inline flags
    def regexp_count_rw(a: list[str]) -> str | None:
        if len(a) not in (3, 4):
            return None
        pref = _re_flags(a[3]) if len(a) == 4 else ""
        return f"regexp_count(substr({a[0]}, {a[2].strip()}), {_flagged(a[1], pref)})"

    sql = _rewrite_calls(sql, "regexp_count", regexp_count_rw)

    # REGEXP_INSTR(s, pat[, pos[, occ[, option[, params]]]]) — Snowflake's
    # 3rd arg is the search POSITION (Spark's 3-arg form means group idx,
    # so 3+ args must be rewritten). Same split()/extract_all decomposition
    # as occurrence-N REGEXP_REPLACE: s == seg1 m1 seg2 … mn seg_{n+1}, so
    # the Nth match starts after sum(len(seg_i)+len(m_i), i<N) + len(seg_N).
    # option 0 -> start of match, 1 -> first char AFTER the match; 0 when
    # there is no Nth occurrence (Snowflake's contract).
    def regexp_instr_rw(a: list[str]) -> str | None:
        if not 3 <= len(a) <= 6:
            return None
        s, pat = a[0], a[1]
        pos, occ = a[2].strip(), (a[3].strip() if len(a) >= 4 else "1")
        option = a[4].strip() if len(a) >= 5 else "0"
        pref = _re_flags(a[5]) if len(a) == 6 else ""
        p = _flagged(pat, pref)
        t = f"substr({s}, {pos})"
        segs = f"split({t}, {p}, -1)"
        ms = f"regexp_extract_all({t}, {p}, 0)"
        o = f"CAST({occ} AS INT)"
        # sequence(1, 0) DESCENDS in Spark, so the o=1 prefix sum needs an
        # explicit guard (same as the occurrence-N REGEXP_REPLACE rewrite)
        before = (
            f"((CASE WHEN {o} > 1 THEN aggregate(sequence(1, {o} - 1), 0, (acc, i) -> acc"
            f" + length(element_at({segs}, i)) + length(element_at({ms}, i))) ELSE 0 END)"
            f" + length(element_at({segs}, {o})))"
        )
        endoff = f" + (CASE WHEN CAST({option} AS INT) = 1 THEN length(element_at({ms}, {o})) ELSE 0 END)"
        return (
            f"CASE WHEN size({ms}) < {o} OR {o} < 1 THEN 0 "
            f"ELSE ({pos}) - 1 + {before} + 1{endoff} END"
        )

    sql = _rewrite_calls(sql, "regexp_instr", regexp_instr_rw)

    sql = _rewrite_calls(
        sql,
        "try_base64_decode_string",
        lambda a: f"decode(try_to_binary({a[0]}, 'base64'), 'UTF-8')"
        if len(a) == 1
        else None,
    )

    # HASH_AGG(args) -> order-invariant 64-bit aggregate hash: per-row
    # xxhash64 summed exactly in DECIMAL(38) and wrapped to a signed
    # 64-bit value. Summation (not XOR) so duplicate rows change the
    # result — the table-equality use case HASH_AGG exists for. Snowflake
    # documents the output as engine-specific; ours is stable and
    # partition-order-independent by construction.
    def hash_agg_rw(a: list[str]) -> str | None:
        if not a:
            return None
        args = ", ".join(a)
        w = (
            f"pmod(sum(CAST(xxhash64({args}) AS DECIMAL(38,0))), "
            f"CAST(18446744073709551616 AS DECIMAL(38,0)))"
        )
        return (
            f"CAST(CASE WHEN {w} >= CAST(9223372036854775808 AS DECIMAL(38,0)) "
            f"THEN {w} - CAST(18446744073709551616 AS DECIMAL(38,0)) "
            f"ELSE {w} END AS BIGINT)"
        )

    sql = _rewrite_calls(sql, "hash_agg", hash_agg_rw)

    # SEARCH(col, 'term') -> default-analyzer semantics: BOTH sides
    # tokenize (lowercase, split on non-alphanumerics) and the match is
    # any-token-overlap — SEARCH(name, 'nation_3') hits 'NATION_3' because
    # both sides tokenize to [nation, 3]
    sql = _rewrite_calls(
        sql,
        "search",
        lambda a: (
            # arrays_overlap (symmetric) rather than array_contains: the
            # Snowflake ARRAY_CONTAINS arg-swap rewrite downstream would
            # flip generated Spark-order arguments
            f"arrays_overlap("
            f"filter(split(lower({a[0]}), '[^a-z0-9]+'), __t -> __t != ''), "
            f"filter(split(lower({a[1]}), '[^a-z0-9]+'), __q -> __q != ''))"
        )
        if len(a) == 2
        else None,
    )

    # REGR_VALX(y, x) -> x when y is non-null (and symmetrically VALY):
    # the pair-completeness guards the REGR_* aggregates apply per row
    sql = _rewrite_calls(
        sql,
        "regr_valx",
        lambda a: f"CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE ({a[1]}) END"
        if len(a) == 2
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "regr_valy",
        lambda a: f"CASE WHEN ({a[1]}) IS NULL THEN NULL ELSE ({a[0]}) END"
        if len(a) == 2
        else None,
    )

    # quoted date-part units -> bare keywords: Snowflake accepts
    # DATEADD('quarter', …) and DATEADD(quarter, …) interchangeably; Spark's
    # timestampadd/-diff (the rename targets) parse only the bare form
    def unq_unit(fname: str):
        def rw(a: list[str]) -> str | None:
            if len(a) >= 2 and _STRING_RE.fullmatch(a[0].strip()):
                unit = a[0].strip()[1:-1].strip()
                if re.fullmatch(r"\w+", unit):
                    return f"{fname}({unit}, {', '.join(x.strip() for x in a[1:])})"
            return None

        return rw

    for f in ("dateadd", "datediff", "timeadd", "timediff",
              "timestampadd", "timestampdiff"):
        sql = _rewrite_calls(sql, f, unq_unit(f))

    # Unit-alias normalization + Snowflake DATEDIFF boundary semantics
    # (r8 probe sweep #6). By this point every DATEADD/DATEDIFF spelling is
    # renamed to timestampadd/timestampdiff with a bare unit keyword.
    #
    # Snowflake accepts dozens of unit aliases (yyyy, mons, hrs, ...);
    # Spark's timestampadd knows only the canonical names. And Snowflake
    # DATEDIFF counts unit-BOUNDARY CROSSINGS (DATEDIFF(month,
    # '2024-01-31', '2024-02-01') = 1; DATEDIFF(hour, 10:59:59, 11:00:00)
    # = 1) where Spark's timestampdiff counts elapsed COMPLETE units (0 for
    # both) — so timestampdiff expands to truncate-to-unit-then-count
    # expressions. DuckDB's date_diff shares Snowflake's boundary
    # definition, so the fuzz lanes oracle these directly.
    def ts_add_rw(a: list[str]) -> str | None:
        if len(a) != 3:
            return None
        u = _DT_UNIT_ALIASES.get(a[0].strip().lower())
        if u is None:
            return None
        if u == "nanosecond":  # Spark timestamps are microsecond-grained
            return f"timestampadd(microsecond, ({a[1]}) DIV 1000, {a[2]})"
        return f"timestampadd({u}, {a[1]}, {a[2]})"

    def ts_diff_rw(a: list[str]) -> str | None:
        if len(a) != 3:
            return None
        u = _DT_UNIT_ALIASES.get(a[0].strip().lower())
        if u is None:
            return None
        x, y = a[1].strip(), a[2].strip()  # (start, end): end - start

        def um(e: str, trunc: str | None = None) -> str:
            t = f"CAST({e} AS TIMESTAMP)"
            return f"unix_micros({f'date_trunc({trunc!r}, {t})' if trunc else t})"

        if u == "year":
            return f"CAST(year({y}) - year({x}) AS BIGINT)"
        if u == "quarter":
            return (f"CAST((year({y}) * 4 + quarter({y})) - "
                    f"(year({x}) * 4 + quarter({x})) AS BIGINT)")
        if u == "month":
            return (f"CAST((year({y}) * 12 + month({y})) - "
                    f"(year({x}) * 12 + month({x})) AS BIGINT)")
        # day counts via unix_date, not datediff: this ring runs BEFORE the
        # token rename pass, which would remap an emitted datediff(...)
        if u == "week":
            return (f"CAST((unix_date(CAST(date_trunc('week', {y}) AS DATE)) - "
                    f"unix_date(CAST(date_trunc('week', {x}) AS DATE))) DIV 7 AS BIGINT)")
        if u == "day":
            return (f"CAST(unix_date(CAST({y} AS DATE)) - "
                    f"unix_date(CAST({x} AS DATE)) AS BIGINT)")
        micros = {"hour": 3_600_000_000, "minute": 60_000_000,
                  "second": 1_000_000, "millisecond": 1_000}.get(u)
        if micros is not None:
            return (f"CAST(({um(y, u)} - {um(x, u)}) DIV {micros} AS BIGINT)")
        if u == "microsecond":
            return f"CAST({um(y)} - {um(x)} AS BIGINT)"
        return f"CAST(({um(y)} - {um(x)}) * 1000 AS BIGINT)"  # nanosecond

    # this ring runs before the DATEADD->timestampadd token rename, so the
    # original spellings are still in the text — rewrite all of them
    for f in ("dateadd", "timeadd", "timestampadd"):
        sql = _rewrite_calls(sql, f, ts_add_rw)
    for f in ("datediff", "timediff", "timestampdiff"):
        sql = _rewrite_calls(sql, f, ts_diff_rw)

    # LAST_DAY(d, part): Snowflake's 2-arg form (month/quarter/year/week)
    def last_day_rw(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        p = a[1].strip().strip("'\"").lower()
        d = a[0]
        if p in ("month", "mm", "mon", "months"):
            return f"last_day({d})"
        if p in ("year", "yyyy", "yy", "years"):
            return f"make_date(year({d}), 12, 31)"
        if p in ("quarter", "q", "qtr"):
            return f"date_sub(add_months(date_trunc('quarter', {d}), 3), 1)"
        if p in ("week", "wk", "weekofyear"):
            return f"date_add(CAST(date_trunc('week', {d}) AS DATE), 6)"
        return None

    sql = _rewrite_calls(sql, "last_day", last_day_rw)

    # DATE_FROM_PARTS out-of-range normalization (Snowflake rolls month 13
    # into the next year, day 0 back a day, etc.; ANSI make_date faults) —
    # anchor at Jan 1 and add offsets, which normalizes exactly
    sql = _rewrite_calls(
        sql,
        "date_from_parts",
        lambda a: (
            f"date_add(add_months(make_date({a[0]}, 1, 1), "
            f"CAST(({a[1]}) - 1 AS INT)), CAST(({a[2]}) - 1 AS INT))"
        )
        if len(a) == 3
        else None,
    )

    # ARRAY_SORT(a, sort_ascending[, nulls_first]): Snowflake flag forms.
    # Spark primitives cover all four corners: array_sort = asc nulls-last,
    # sort_array(x, true) = asc nulls-first, sort_array(x, false) = desc
    # nulls-last, reverse(array_sort) = desc nulls-first (Snowflake's
    # 2-arg desc default).
    def arr_sort_rw(a: list[str]) -> str | None:
        def flag(x: str) -> str:
            return x.strip().upper()

        if len(a) == 2 and flag(a[1]) in ("TRUE", "FALSE"):
            return (
                f"array_sort({a[0]})"
                if flag(a[1]) == "TRUE"
                else f"reverse(array_sort({a[0]}))"
            )
        if len(a) == 3 and flag(a[1]) in ("TRUE", "FALSE") and flag(a[2]) in ("TRUE", "FALSE"):
            asc, nf = flag(a[1]) == "TRUE", flag(a[2]) == "TRUE"
            if asc and nf:
                return f"sort_array({a[0]}, true)"
            if asc:
                return f"array_sort({a[0]})"
            if nf:
                return f"reverse(array_sort({a[0]}))"
            return f"sort_array({a[0]}, false)"
        return None

    sql = _rewrite_calls(sql, "array_sort", arr_sort_rw)

    # hash-digest spellings
    sql = _rewrite_calls(sql, "md5_hex", lambda a: f"md5({a[0]})" if len(a) == 1 else None)
    sql = _rewrite_calls(
        sql, "md5_binary", lambda a: f"unhex(md5({a[0]}))" if len(a) == 1 else None
    )
    sql = _rewrite_calls(sql, "sha1_hex", lambda a: f"sha1({a[0]})" if len(a) == 1 else None)
    sql = _rewrite_calls(
        sql, "sha2_hex", lambda a: f"sha2({', '.join(a)})" if len(a) in (1, 2) else None
    )
    sql = _rewrite_calls(
        sql,
        "yearofweekiso",
        lambda a: f"extract(YEAROFWEEK FROM {a[0]})" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "yearofweek",
        lambda a: f"extract(YEAROFWEEK FROM {a[0]})" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "difference",
        lambda a: (
            f"CAST(size(filter(sequence(1, 4), __i -> "
            f"substr(soundex({a[0]}), __i, 1) = substr(soundex({a[1]}), __i, 1))) AS INT)"
        )
        if len(a) == 2
        else None,
    )
    for n, width in (("seq1", 1), ("seq2", 2), ("seq4", 4), ("seq8", 8)):
        mod = 1 << (8 * width)
        sql = _rewrite_calls(
            sql,
            n,
            lambda a, _m=mod, _w=width: (
                "monotonically_increasing_id()"
                if _w == 8
                else f"pmod(monotonically_increasing_id(), {_m})"
            )
            if len(a) <= 1
            else None,
        )

    def minhash_rw(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        try:
            k = int(a[0].strip())
        except ValueError:
            return None
        if not 1 <= k <= 512:
            return None
        return (
            "array("
            + ",".join(f"min(xxhash64({i}, xxhash64({a[1]})))" for i in range(k))
            + ")"
        )

    sql = _rewrite_calls(sql, "minhash", minhash_rw)
    # aggregate-of-arrays forms: collect the sketches, fold elementwise.
    # collect_list appears repeatedly but canonicalizes to ONE aggregate
    # buffer in the plan (identical aggregate expressions deduplicate).
    _sk = "collect_list({e})"

    def combine_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        sk = _sk.format(e=a[0])
        return (
            f"transform(sequence(1, size({sk}[0])), "
            f"__i -> array_min(transform({sk}, __s -> __s[__i - 1])))"
        )

    def jaccard_rw(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        sk = _sk.format(e=a[0])
        return (
            f"(CAST(size(filter(sequence(1, size({sk}[0])), "
            f"__i -> array_min(transform({sk}, __s -> __s[__i - 1])) = "
            f"array_max(transform({sk}, __s -> __s[__i - 1])))) AS DOUBLE) "
            f"/ size({sk}[0]))"
        )

    sql = _rewrite_calls(sql, "minhash_combine", combine_rw)
    sql = _rewrite_calls(sql, "approximate_jaccard_index", jaccard_rw)
    sql = _rewrite_calls(sql, "approximate_similarity", jaccard_rw)
    sql = _rewrite_calls(
        sql,
        "collate",
        lambda a: f"collate({a[0]}, '{_spark_collation(a[1].strip()[1:-1])}')"
        if len(a) == 2 and _STRING_RE.fullmatch(a[1].strip())
        else None,
    )
    # postfix form: the spec is itself a quoted literal, so this runs on the
    # raw text (not _outside_literals, which would mask the spec away); a
    # string literal CONTAINING "COLLATE '...'" text is the only false
    # positive and is vanishingly unlikely in SQL bodies
    sql = re.sub(
        r"\bCOLLATE\s+'([^']*)'",
        lambda m: f"COLLATE {_spark_collation(m.group(1))}",
        sql,
        flags=re.I,
    )
    return sql


def _rewrite_insert_function(s: str) -> str:
    """INSERT as a STRING FUNCTION only (INSERT(base, pos, len, repl) ->
    overlay(base, repl, pos, len)): requires exactly 4 args AND skips any
    INSERT preceded by THEN — MERGE's ``WHEN NOT MATCHED THEN INSERT
    (c1, c2, c3, c4)`` clause is a column list, not a call, and a plain
    call scan would destroy exactly-4-column merges (the call scanner
    tolerates whitespace before '(', so "requires '(' directly after the
    name" is NOT a sufficient guard)."""
    if not re.search(r"(?i)\binsert\s*\(", s):
        return s
    out: list[str] = []
    i = 0
    low = s.lower()
    while True:
        j = low.find("insert", i)
        if j < 0:
            out.append(s[i:])
            break
        k = j + 6
        if (j > 0 and (s[j - 1].isalnum() or s[j - 1] == "_")) or (
            k < len(s) and (s[k].isalnum() or s[k] == "_")
        ):
            out.append(s[i:k])
            i = k
            continue
        while k < len(s) and s[k].isspace():
            k += 1
        prev = s[:j].rstrip().lower()
        if k >= len(s) or s[k] != "(" or prev.endswith("then") or not prev:
            out.append(s[i : j + 6])
            i = j + 6
            continue
        m = _match_paren(s, k)
        args = _split_top_args(s[k + 1 : m])
        if len(args) != 4:
            out.append(s[i : j + 6])
            i = j + 6
            continue
        out.append(s[i:j])
        out.append(f"overlay({args[0]}, {args[3]}, {args[1]}, {args[2]})")
        i = m + 1
    return "".join(out)


def _rewrite_scalar_emulations_r6(sql: str) -> str:
    """Round-6 final surface:

    - **BITMAP_* family** — Snowflake's documented precomputed
      count-distinct pattern: split the value domain into 32768-value
      buckets, aggregate ONE mergeable bitmap per (group, bucket), merge
      by OR on rollup, COUNT = popcount, and SUM(BITMAP_COUNT) over
      buckets is the EXACT COUNT(DISTINCT). Snowflake's bitmap value is
      an opaque binary; ours is the sorted position-SET as array<int> —
      bounded at 32768 entries per bucket by construction, same algebra
      (OR = set union, COUNT = cardinality), deterministic and portable
      across engines. At 100 TB this is the rollup-table shape: partial
      aggregation collapses each task to <= one array per (group,
      bucket), and re-aggregation unions arrays instead of re-scanning
      facts.
    - PARSE_IP(ip[, 'INET']) — IPv4 + optional /prefix subset -> VARIANT
      object (JSON text, like PARSE_URL): family/host/ip_fields/ipv4/
      ipv4_range_start/ipv4_range_end/netmask_prefix_length. Range
      bounds via 64-bit shifts (exact).
    - RTRIMMED_LENGTH / GETDATE / HAVERSINE (great-circle km, R=6371 —
      Snowflake returns the same formula's value within FP noise).
    """
    sql = _rewrite_calls(
        sql,
        "bitmap_bucket_number",
        lambda a: f"CAST(1 + floor((({a[0]}) - 1) / 32768) AS BIGINT)"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "bitmap_bit_position",
        lambda a: f"CAST(pmod(({a[0]}) - 1, 32768) AS BIGINT)" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "bitmap_construct_agg",
        lambda a: f"array_sort(collect_set(CAST({a[0]} AS INT)))" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "bitmap_or_agg",
        lambda a: f"array_sort(array_distinct(flatten(collect_list({a[0]}))))"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "bitmap_count",
        lambda a: f"CAST(size({a[0]}) AS BIGINT)" if len(a) == 1 else None,
    )

    # PARSE_IP: IPv4 dotted-quad with optional /prefix. Spark-side pure
    # expressions; every subterm is restated inline (no lateral aliases in
    # generated text). ip_fields follows Snowflake's IPv4 convention
    # ([ipv4, 0, 0, 0]).
    def parse_ip_rw(a: list[str]) -> str | None:
        if len(a) not in (1, 2, 3):
            return None
        x = a[0]
        host = f"element_at(split({x}, '/'), 1)"
        haspfx = f"(instr({x}, '/') > 0)"
        pfx = f"CAST(element_at(split({x}, '/'), 2) AS INT)"
        oct_ = lambda i: f"CAST(element_at(split({host}, '\\\\.'), {i}) AS BIGINT)"  # noqa: E731
        ipv4 = (
            f"({oct_(1)} * 16777216 + {oct_(2)} * 65536 + {oct_(3)} * 256 + {oct_(4)})"
        )
        r0 = f"shiftleft(shiftright({ipv4}, 32 - {pfx}), 32 - {pfx})"
        r1 = f"({r0} + shiftleft(CAST(1 AS BIGINT), 32 - {pfx}) - 1)"
        return (
            "to_json(named_struct("
            "'family', 4, "
            f"'host', {host}, "
            f"'ip_fields', array({ipv4}, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)), "
            f"'ipv4', {ipv4}, "
            f"'ipv4_range_end', CASE WHEN {haspfx} THEN {r1} END, "
            f"'ipv4_range_start', CASE WHEN {haspfx} THEN {r0} END, "
            f"'netmask_prefix_length', CASE WHEN {haspfx} THEN {pfx} END))"
        )

    sql = _rewrite_calls(sql, "parse_ip", parse_ip_rw)

    sql = _rewrite_calls(
        sql,
        "rtrimmed_length",
        lambda a: f"length(rtrim({a[0]}))" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "getdate",
        lambda a: "current_timestamp()"
        if not a or (len(a) == 1 and not a[0].strip())
        else None,
    )

    # TIME_FROM_PARTS(h, m, s[, ns]) -> the canonical 'HH:mm:ss' TIME string
    # (same representation as TO_TIME — Spark has no TIME type)
    sql = _rewrite_calls(
        sql,
        "time_from_parts",
        lambda a: (
            f"concat(lpad(CAST({a[0]} AS STRING), 2, '0'), ':', "
            f"lpad(CAST({a[1]} AS STRING), 2, '0'), ':', "
            f"lpad(CAST({a[2]} AS STRING), 2, '0'))"
        )
        if len(a) in (3, 4)
        else None,
    )

    # XMLGET(xml_text, 'tag'[, instance]) — practical subset over XML TEXT:
    # returns the Snowflake-shaped element object {"@": tag, "$": inner}
    # as VARIANT JSON (access inner text with GET_PATH(x, '\"$\"') or
    # GET(x, '$')). instance is 0-based like Snowflake's.
    def xmlget_rw(a: list[str]) -> str | None:
        if len(a) not in (2, 3) or not _STRING_RE.fullmatch(a[1].strip()):
            return None
        tag = a[1].strip()[1:-1]
        inst = a[2].strip() if len(a) == 3 else "0"
        pat = f"'(?s)<{tag}(?:\\\\s[^>]*)?>(.*?)</{tag}>'"
        inner = f"try_element_at(regexp_extract_all({a[0]}, {pat}, 1), ({inst}) + 1)"
        return (
            f"CASE WHEN {inner} IS NULL THEN NULL ELSE "
            f"to_json(named_struct('@', '{tag}', '$', {inner})) END"
        )

    sql = _rewrite_calls(sql, "xmlget", xmlget_rw)

    # ROUND(x, n, 'HALF_TO_EVEN'|'HALF_AWAY_FROM_ZERO'): Spark's bround IS
    # half-even; bare round is half-away (on decimals) / half-up-on-repr
    # (on doubles) — the same split Snowflake documents
    def round_mode_rw(a: list[str]) -> str | None:
        if len(a) != 3 or not _STRING_RE.fullmatch(a[2].strip()):
            return None
        mode = a[2].strip()[1:-1].upper()
        if mode == "HALF_TO_EVEN":
            return f"bround({a[0]}, {a[1]})"
        if mode == "HALF_AWAY_FROM_ZERO":
            return f"round({a[0]}, {a[1]})"
        return None

    sql = _rewrite_calls(sql, "round", round_mode_rw)

    # OBJECT_CONSTRUCT_KEEP_NULL -> VARIANT JSON text with null fields KEPT
    # (plain OBJECT_CONSTRUCT builds a struct whose to_json drops nulls —
    # exactly Snowflake's null-dropping OBJECT_CONSTRUCT contract)
    def obj_keep_null_rw(a: list[str]) -> str | None:
        if not a or len(a) % 2 != 0:
            return None
        return (
            f"to_json(named_struct({', '.join(a)}), map('ignoreNullFields', 'false'))"
        )

    sql = _rewrite_calls(sql, "object_construct_keep_null", obj_keep_null_rw)

    # GET_IGNORE_CASE(obj, 'key'): case-insensitive field access over the
    # VARIANT JSON text (flat objects — the common config/metadata case); a
    # syntactic OBJECT_CONSTRUCT/struct argument is serialized first
    def get_ic_rw(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        obj = a[0].strip()
        if re.match(r"(?is)^\s*(object_construct|named_struct|struct)\s*\(", obj):
            obj = f"to_json({obj})"
        return (
            f"element_at(transform_keys(from_json({obj}, 'map<string,string>'), "
            f"(__k, __v) -> lower(__k)), lower({a[1]}))"
        )

    sql = _rewrite_calls(sql, "get_ignore_case", get_ic_rw)

    def haversine_rw(a: list[str]) -> str | None:
        if len(a) != 4:
            return None
        lat1, lon1, lat2, lon2 = a
        return (
            f"(2 * 6371 * asin(sqrt("
            f"power(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
            f" + cos(radians({lat1})) * cos(radians({lat2}))"
            f" * power(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
        )

    sql = _rewrite_calls(sql, "haversine", haversine_rw)
    return sql


def _rewrite_strtok_to_array(sql: str) -> str:
    """Snowflake STRTOK_TO_ARRAY(str[, delims]) splits on ANY single char of
    the delimiter set and drops empty tokens; Spark split() takes a Java
    REGEX (so split(col, '.') silently returns all-empties). Rewrite to a
    char-class split + empty-token filter."""

    def rw(args: list[str]) -> str | None:
        expr = args[0].strip()
        if len(args) == 1:
            cls = "'[ ]'"
        else:
            d = args[1].strip()
            lit = _STRING_RE.fullmatch(d)
            if lit:
                cls = _char_class(d[1:-1].replace("''", "'"))
            else:
                # non-literal delimiter: quote it at runtime with \Q..\E
                cls = f"concat('[\\\\Q', {d}, '\\\\E]')"
        return f"filter(split({expr}, {cls}), __t -> __t != '')"

    return _rewrite_calls(sql, "strtok_to_array", rw)


#: Snowflake date/time unit aliases (documented "Supported date and time
#: parts") -> the canonical unit keyword Spark's timestampadd understands.
_DT_UNIT_ALIASES = {u: c for c, us in {
    "year": ["year", "y", "yy", "yyy", "yyyy", "yr", "years", "yrs"],
    "quarter": ["quarter", "q", "qtr", "qtrs", "quarters"],
    "month": ["month", "mm", "mon", "mons", "months"],
    "week": ["week", "w", "wk", "weekofyear", "woy", "wy", "weeks"],
    "day": ["day", "d", "dd", "days", "dayofmonth"],
    "hour": ["hour", "h", "hh", "hr", "hours", "hrs"],
    "minute": ["minute", "m", "mi", "min", "minutes", "mins"],
    "second": ["second", "s", "sec", "seconds", "secs"],
    "millisecond": ["millisecond", "ms", "msec", "milliseconds"],
    "microsecond": ["microsecond", "us", "usec", "microseconds"],
    "nanosecond": ["nanosecond", "ns", "nsec", "nanosec", "nsecond",
                   "nanoseconds", "nanosecs", "nsecs"],
}.items() for u in us}

_TIME_SLICE_SEC = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400, "WEEK": 604800}
_TIME_SLICE_MONTHS = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}
_DT_FMT_TOKENS = re.compile(r"YYYY|MON|MM|DD|HH24|HH12|MI|SS|DY", re.I)


def _rewrite_scalar_emulations_r3(sql: str) -> str:
    """Round-3 dialect ring — Snowflake functions whose Spark twin diverges
    in NULL handling, match mode, or delimiter interpretation (the silent-
    wrong-answer traps a real client hits first), plus sketch/stat surface:

    - GREATEST/LEAST are NULL-STRICT in Snowflake (any NULL arg -> NULL);
      Spark's skip NULLs. GREATEST_IGNORE_NULLS/LEAST_IGNORE_NULLS map to
      the Spark natives.
    - SPLIT(str, delim) splits on the LITERAL delimiter (Spark split takes a
      Java regex — SPLIT(x, '.') silently explodes to empties). Empty tokens
      are kept, matching Snowflake.
    - REGEXP_LIKE / RLIKE(subject, pattern[, params]) FULL-match in
      Snowflake; Spark regexp_like is partial. Anchor with ^(?:...)$ and map
      'i'/'s'/'m' params to inline flags.
    - REGEXP_SUBSTR_ALL -> regexp_extract_all(s, p, 0) (Spark requires the
      explicit group-0 index when the pattern has no capture groups).
    - INSERT(str, pos, len, repl) -> overlay (guarded: 4 args only, and
      never after THEN, so MERGE's "THEN INSERT (cols)" list survives —
      see _rewrite_insert_function).
    - TO_CHAR/TO_VARCHAR(ts, 'YYYY-MM-DD...') -> date_format with the shared
      Snowflake->JDK token table (copy_into._map_datetime_format); the 1-arg
      form still falls through to the TO_CHAR->string rename.
    - TIME_SLICE(ts, n, 'unit'[, 'START'|'END']): epoch-aligned bucketing
      for SECOND..WEEK (matches DuckDB time_bucket with epoch origin),
      months-since-1970 arithmetic for MONTH/QUARTER/YEAR.
    - PREVIOUS_DAY(d, dow) = next_day(d - 8 days, dow): the unique dow in
      (d-8, d-1] IS the strictly-previous one.
    - SKEW/KURTOSIS: Snowflake (and DuckDB) report SAMPLE-corrected G1/G2;
      Spark's are population g1/g2. Correct via G1 = g1*sqrt(n(n-1))/(n-2),
      G2 = ((n+1)g2 + 6)(n-1)/((n-2)(n-3)); NULL below the defined n.
    - BOOLXOR_AGG = parity of true count (XOR is associative), NULL on empty.
    - BASE64/HEX_DECODE_STRING return STRING (Spark unbase64/unhex -> binary).
    - ARRAY_UNIQUE_AGG -> sorted collect_set (Snowflake leaves order
      undefined; sorted is deterministic under any partitioning).
    """
    from universql_spark.copy_into import _map_datetime_format

    def nullstrict(fname):
        def rw(a):
            if len(a) < 2:
                return None
            guard = " OR ".join(f"({x}) IS NULL" for x in a)
            return f"CASE WHEN {guard} THEN NULL ELSE {fname}({', '.join(x.strip() for x in a)}) END"
        return rw

    sql = _rewrite_calls(sql, "greatest", nullstrict("greatest"))
    sql = _rewrite_calls(sql, "least", nullstrict("least"))

    def split_rw(a):
        if len(a) != 2:
            return None
        d = a[1].strip()
        if _STRING_RE.fullmatch(d):
            body = d[1:-1].replace("''", "'")
            quoted = "\\\\Q" + body + "\\\\E"
            return f"split({a[0]}, '{quoted.replace(chr(39), chr(39)*2)}')"
        return f"split({a[0]}, concat('\\\\Q', {d}, '\\\\E'))"

    sql = _rewrite_calls(sql, "split", split_rw)

    def regexp_like_rw(a):
        if len(a) not in (2, 3):
            return None
        flags = ""
        if len(a) == 3:
            p = a[2].strip()
            if not _STRING_RE.fullmatch(p):
                return None
            chars = p[1:-1]
            flags = "".join(f"(?{c})" for c in chars if c in "ism")
        pat = a[1].strip()
        if _STRING_RE.fullmatch(pat):
            return f"regexp_like({a[0]}, '{flags}^(?:{pat[1:-1]})$')"
        return f"regexp_like({a[0]}, concat('{flags}^(?:', {pat}, ')$'))"

    sql = _rewrite_calls(sql, "regexp_like", regexp_like_rw)
    sql = _rewrite_calls(sql, "rlike", regexp_like_rw)
    sql = _rewrite_calls(
        sql,
        "regexp_substr_all",
        lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)" if len(a) == 2 else None,
    )
    sql = _rewrite_insert_function(sql)

    def to_char_rw(a):
        if len(a) != 2:
            return None
        f = a[1].strip()
        if not _STRING_RE.fullmatch(f) or not _DT_FMT_TOKENS.search(f):
            return None
        mapped = _map_datetime_format(f[1:-1])
        return f"date_format({a[0]}, '{mapped}')"

    sql = _rewrite_calls(sql, "to_char", to_char_rw)
    sql = _rewrite_calls(sql, "to_varchar", to_char_rw)

    def time_slice_rw(a):
        if len(a) not in (3, 4):
            return None
        try:
            n = int(a[1].strip())
        except ValueError:
            return None
        u = a[2].strip().strip("'\"").upper()
        end = len(a) == 4 and a[3].strip().strip("'\"").upper() == "END"
        if u in _TIME_SLICE_SEC:
            s = n * _TIME_SLICE_SEC[u]
            off = f" + {s}" if end else ""
            return f"to_timestamp(floor(unix_timestamp({a[0]}) / {s}) * {s}{off})"
        if u in _TIME_SLICE_MONTHS:
            m = n * _TIME_SLICE_MONTHS[u]
            mexpr = f"(year({a[0]}) - 1970) * 12 + month({a[0]}) - 1"
            off = f" + {m}" if end else ""
            return f"cast(add_months(date'1970-01-01', cast(floor(({mexpr}) / {m}) * {m}{off} AS INT)) AS TIMESTAMP)"
        return None

    sql = _rewrite_calls(sql, "time_slice", time_slice_rw)
    sql = _rewrite_calls(
        sql,
        "previous_day",
        lambda a: f"next_day(date_sub({a[0]}, 8), {a[1]})" if len(a) == 2 else None,
    )
    # windowed SKEW/KURTOSIS first: the sample-correction CASE cannot take
    # an OVER clause itself, so the window spec distributes into every
    # aggregate call inside the corrected expression
    def _windowed_moments(s: str) -> str:
        pat = re.compile(r"\b(skew|kurtosis)\s*\(", re.I)
        i = 0
        while True:
            m = pat.search(s, i)
            if not m:
                return s
            close = _match_paren(s, s.index("(", m.start()))
            x = s[s.index("(", m.start()) + 1 : close]
            p = close + 1
            while p < len(s) and s[p].isspace():
                p += 1
            if s[p : p + 4].lower() != "over":
                i = close + 1
                continue
            q = p + 4
            while q < len(s) and s[q].isspace():
                q += 1
            if q >= len(s) or s[q] != "(":
                i = close + 1
                continue
            oclose = _match_paren(s, q)
            w = f"OVER ({s[q + 1 : oclose]})"
            # inner calls use __*_pop sentinels so the PLAIN skew/kurtosis
            # rewrites below cannot re-correct them; renamed back after
            c = f"count({x}) {w}"
            if m.group(1).lower() == "skew":
                repl = (
                    f"CASE WHEN {c} >= 3 THEN __skewness_pop({x}) {w}"
                    f" * sqrt({c} * ({c} - 1)) / ({c} - 2) ELSE NULL END"
                )
            else:
                repl = (
                    f"CASE WHEN {c} >= 4 THEN"
                    f" (({c} + 1) * __kurtosis_pop({x}) {w} + 6)"
                    f" * ({c} - 1) / (({c} - 2) * ({c} - 3)) ELSE NULL END"
                )
            s = s[: m.start()] + repl + s[oclose + 1 :]
            i = m.start() + len(repl)

    sql = _windowed_moments(sql)
    sql = _rewrite_calls(
        sql,
        "skew",
        lambda a: (
            f"CASE WHEN count({a[0]}) >= 3 THEN skewness({a[0]})"
            f" * sqrt(count({a[0]}) * (count({a[0]}) - 1)) / (count({a[0]}) - 2)"
            f" ELSE NULL END"
        )
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "kurtosis",
        lambda a: (
            f"CASE WHEN count({a[0]}) >= 4 THEN"
            f" ((count({a[0]}) + 1) * kurtosis({a[0]}) + 6)"
            f" * (count({a[0]}) - 1) / ((count({a[0]}) - 2) * (count({a[0]}) - 3))"
            f" ELSE NULL END"
        )
        if len(a) == 1
        else None,
    )
    sql = re.sub(r"\b__skewness_pop\(", "skewness(", sql)
    sql = re.sub(r"\b__kurtosis_pop\(", "kurtosis(", sql)
    sql = _rewrite_calls(
        sql,
        "boolxor_agg",
        lambda a: f"CASE WHEN count({a[0]}) = 0 THEN NULL ELSE (count_if({a[0]}) % 2) = 1 END"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "base64_decode_string",
        lambda a: f"cast(unbase64({a[0]}) AS STRING)" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "hex_decode_string",
        lambda a: f"cast(unhex({a[0]}) AS STRING)" if len(a) == 1 else None,
    )
    # TRY_ twin: try_to_binary(x, 'hex') -> NULL on malformed input (Spark
    # unhex alone zero-pads odd-length input instead of failing, so route
    # through try_to_binary like the base64 twin above)
    sql = _rewrite_calls(
        sql,
        "try_hex_decode_string",
        lambda a: f"decode(try_to_binary({a[0]}, 'hex'), 'UTF-8')"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "array_unique_agg",
        lambda a: f"array_sort(collect_set({a[0]}))" if len(a) == 1 else None,
    )

    # PARSE_URL(u[, permissive]) -> VARIANT object (JSON text here, like
    # every VARIANT): the scheme/host/path/query/fragment subset of
    # Snowflake's output, built from Spark's per-part parse_url so colon
    # paths (u:host) work on the result. `parameters`/`port` omitted.
    def parse_url_rw(a):
        if len(a) not in (1, 2):
            return None
        u = a[0]
        return (
            "to_json(named_struct("
            f"'fragment', parse_url({u}, 'REF'), "
            f"'host', parse_url({u}, 'HOST'), "
            f"'path', parse_url({u}, 'PATH'), "
            f"'query', parse_url({u}, 'QUERY'), "
            f"'scheme', lower(parse_url({u}, 'PROTOCOL'))))"
        )

    sql = _rewrite_calls(sql, "parse_url", parse_url_rw)
    # TO_ARRAY(x): scalar -> 1-element array, NULL -> NULL (array-typed
    # inputs would need type info; VARIANTs here are JSON text, so the
    # scalar wrap is the supported subset)
    sql = _rewrite_calls(
        sql,
        "to_array",
        lambda a: f"CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE array({a[0]}) END"
        if len(a) == 1
        else None,
    )

    # ARRAY_GENERATE_RANGE(a, b[, step]): end-EXCLUSIVE (Spark sequence is
    # inclusive); negative literal steps flip the bound adjustment
    def gen_range_rw(a):
        if len(a) == 2:
            return f"sequence({a[0]}, ({a[1]}) - 1)"
        if len(a) == 3:
            step = a[2].strip()
            adj = "+ 1" if step.startswith("-") else "- 1"
            return f"sequence({a[0]}, ({a[1]}) {adj}, {a[2]})"
        return None

    sql = _rewrite_calls(sql, "array_generate_range", gen_range_rw)

    # TRY_PARSE_JSON(s): VARIANT here is JSON text, so valid JSON passes
    # through unchanged and invalid input becomes NULL (Spark 4's
    # try_parse_json is the validity probe). CHECK_JSON returns NULL when
    # the input parses and an error string otherwise.
    sql = _rewrite_calls(
        sql,
        "try_parse_json",
        lambda a: f"CASE WHEN try_parse_json({a[0]}) IS NULL THEN NULL ELSE {a[0]} END"
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "check_json",
        lambda a: (
            f"CASE WHEN ({a[0]}) IS NULL OR try_parse_json({a[0]}) IS NOT NULL"
            f" THEN NULL ELSE 'invalid JSON' END"
        )
        if len(a) == 1
        else None,
    )
    # ARRAY_INSERT(arr, pos, elem): Snowflake 0-based -> Spark 1-based for
    # non-negative positions (negative positions keep Spark's from-the-end
    # meaning, which counts slots differently — documented divergence)
    sql = _rewrite_calls(
        sql,
        "array_insert",
        lambda a: (
            f"array_insert({a[0]}, CASE WHEN ({a[1]}) >= 0 THEN ({a[1]}) + 1"
            f" ELSE ({a[1]}) END, {_unvariant(a[2])})"
        )
        if len(a) == 3
        else None,
    )
    return sql


def _rewrite_scalar_emulations_r3b(sql: str) -> str:
    """Continuation ring. Most of this session's surface is NATIVE in both
    Spark 4.1 and DuckDB (GROUP BY ALL, MEDIAN, MODE, CONVERT_TIMEZONE,
    ARRAY_APPEND/PREPEND/REMOVE, SOUNDEX, higher-order FILTER/TRANSFORM/
    REDUCE lambdas, TIMESTAMPADD/DIFF) — only the genuinely divergent bits
    are rewritten here:

    - TIMESTAMP[_NTZ]_FROM_PARTS 7-arg nanosecond form: Spark make_timestamp
      takes 6 args with a fractional-seconds DECIMAL — fold ns into seconds.
      (The 6-arg form is a plain rename, _FN_RENAMES.)
    - ARRAY_REMOVE_AT(arr, pos): 0-based removal; Spark has no twin —
      slice-concat around the position (negative = from the end, Snowflake
      semantics).
    """
    sql = _rewrite_calls(
        sql,
        "timestamp_from_parts",
        lambda a: (
            f"make_timestamp({a[0]}, {a[1]}, {a[2]}, {a[3]}, {a[4]},"
            f" CAST(({a[5]}) + ({a[6]}) / 1e9 AS DECIMAL(16,6)))"
        )
        if len(a) == 7
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "timestamp_ntz_from_parts",
        lambda a: (
            f"make_timestamp({a[0]}, {a[1]}, {a[2]}, {a[3]}, {a[4]},"
            f" CAST(({a[5]}) + ({a[6]}) / 1e9 AS DECIMAL(16,6)))"
        )
        if len(a) == 7
        else None,
    )

    # ARRAY_REMOVE_AT via slice-concat: 0-based pos p -> keep [1..p] and
    # [p+2..]; negative p counts from the end (p=-1 removes the last element)
    def remove_at_inline(a):
        if len(a) != 2:
            return None
        arr, pos = a[0].strip(), a[1].strip()
        p = f"(CASE WHEN ({pos}) < 0 THEN size({arr}) + ({pos}) ELSE ({pos}) END)"
        return (
            f"CASE WHEN {p} < 0 OR {p} >= size({arr}) THEN {arr}"
            f" ELSE concat(slice({arr}, 1, {p}),"
            f" slice({arr}, {p} + 2, size({arr}) - {p} - 1)) END"
        )

    sql = _rewrite_calls(sql, "array_remove_at", remove_at_inline)

    # ARRAY_EXCEPT / ARRAY_INTERSECTION are MULTISET operations in
    # Snowflake (r8 probe sweep): ARRAY_EXCEPT(['A','B','B','B','C'],
    # ['B']) keeps TWO Bs, and ARRAY_INTERSECTION(['B','B'],['B','B','C'])
    # keeps both — Spark's array_except/array_intersect are set-based
    # (dedup the result AND ignore multiplicity). Emulation: walk the
    # first array positionally and compare each element's running
    # occurrence count against its count in the second array (null-safe
    # <=> equality, matching Snowflake's NULL-equals-NULL array
    # semantics). O(n^2) lambda per array — arrays are row-local values,
    # never the scan axis, so this stays inside whole-stage codegen.
    def _multiset_rw(keep_when_gt: bool):
        op = ">" if keep_when_gt else "<="

        def rw(a):
            if len(a) != 2:
                return None
            A, B = a[0].strip(), a[1].strip()
            return (
                f"filter({A}, (x, i) ->"
                f" size(filter(slice({A}, 1, i + 1), y -> y <=> x))"
                f" {op} size(filter({B}, y -> y <=> x)))"
            )

        return rw

    sql = _rewrite_calls(sql, "array_except", _multiset_rw(True))
    sql = _rewrite_calls(sql, "array_intersection", _multiset_rw(False))

    # OBJECT_INSERT/DELETE/PICK — VARIANT-object manipulation over the
    # JSON-text representation, all JVM-side: parse once to
    # map<string,variant>, filter/concat, serialize back. Key order is
    # INSERTION order (documented divergence: Snowflake renders object keys
    # lexicographically; the oracle states the same insertion-order values
    # with DuckDB's order-preserving json functions).
    def _obj_map(obj: str) -> str:
        # a syntactic OBJECT_CONSTRUCT/struct argument is a STRUCT, not the
        # canonical VARIANT JSON text — serialize it first so OBJECT_PICK/
        # DELETE/INSERT compose over constructed objects
        if re.match(r"(?is)^\s*(object_construct|named_struct|struct)\s*\(", obj.strip()):
            obj = f"to_json({obj})"
        return f"from_json({obj}, 'map<string,variant>')"

    def _wrap_variant(v: str) -> str:
        # arbitrary expr -> variant: serialize through a one-field struct.
        # try_parse_json (not parse_json): the pipeline's trailing
        # PARSE_JSON strip must not eat this engine-emitted call, and
        # to_json output is always valid JSON so try_ never fires null.
        return f"variant_get(try_parse_json(to_json(struct(({v}) AS v))), '$.v')"

    def obj_insert(a):
        if len(a) not in (3, 4):
            return None
        obj, key, val = a[0].strip(), a[1].strip(), a[2].strip()
        m, wv = _obj_map(obj), _wrap_variant(val)
        ins = f"to_json(map_concat({m}, map({key}, {wv})))"
        upd = (
            f"to_json(map_concat(map_filter({m}, (__k, __v) -> __k != ({key})),"
            f" map({key}, {wv})))"
        )
        exists_err = (
            f"WHEN map_contains_key({m}, {key})"
            f" THEN raise_error('OBJECT_INSERT: duplicate key ' || ({key}))"
        )
        if len(a) == 3:
            return f"CASE {exists_err} ELSE {ins} END"
        u = a[3].strip()
        return f"CASE WHEN ({u}) THEN {upd} {exists_err} ELSE {ins} END"

    def obj_filter(negate: bool):
        def rw(a):
            if len(a) < 2:
                return None
            obj = a[0].strip()
            keys = ", ".join(x.strip() for x in a[1:])
            op = "NOT " if negate else ""
            return (
                f"to_json(map_filter({_obj_map(obj)},"
                f" (__k, __v) -> {op}__k IN ({keys})))"
            )
        return rw

    sql = _rewrite_calls(sql, "object_insert", obj_insert)
    sql = _rewrite_calls(sql, "object_delete", obj_filter(True))
    sql = _rewrite_calls(sql, "object_pick", obj_filter(False))

    # GET(v, 'key'): VARIANT object access with a string key -> JsonPath
    # (scalars come back unquoted, matching the colon-path convention).
    # ONLY the string-key form rewrites: GET(arr, i) falls through to
    # Spark's native 0-based get(), which already matches Snowflake's
    # array indexing — and rewriting it would break real array columns.
    def get_rw(a):
        if len(a) != 2 or not _STRING_RE.fullmatch(a[1].strip()):
            return None
        obj, key = a[0].strip(), a[1].strip()
        if re.match(r"(?is)^\s*(object_construct(_keep_null)?|named_struct)\s*\(", obj):
            # struct-built objects serialize first (the object_keys pattern)
            obj = f"to_json({obj})"
        return f"get_json_object({obj}, concat('$.', {key}))"

    sql = _rewrite_calls(sql, "get", get_rw)
    # 2-arg REGEXP_REPLACE: Snowflake defaults the replacement to '' (strip
    # matches); Spark requires it explicitly
    sql = _rewrite_calls(
        sql, "regexp_replace",
        lambda a: f"regexp_replace({a[0]}, {a[1]}, '')" if len(a) == 2 else None,
    )

    # bitwise scalar surface (Spark's BIT* names are aggregates; the
    # scalar forms map to operators) + null-safe equality
    sql = _rewrite_calls(
        sql, "equal_null", lambda a: f"(({a[0]}) <=> ({a[1]}))" if len(a) == 2 else None
    )
    sql = _rewrite_calls(
        sql, "bitshiftleft",
        lambda a: f"shiftleft({a[0]}, {a[1]})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "bitshiftright",
        lambda a: f"shiftright({a[0]}, {a[1]})" if len(a) == 2 else None,
    )
    for fn, op in (("bitand", "&"), ("bitor", "|"), ("bitxor", "^")):
        sql = _rewrite_calls(
            sql, fn,
            lambda a, op=op: f"(({a[0]}) {op} ({a[1]}))" if len(a) == 2 else None,
        )
    sql = _rewrite_calls(sql, "bitnot", lambda a: f"(~({a[0]}))" if len(a) == 1 else None)
    sql = _rewrite_calls(
        sql, "getbit",
        lambda a: f"(shiftright({a[0]}, {a[1]}) & 1)" if len(a) == 2 else None,
    )
    return sql


_TOP_RE = re.compile(r"\bSELECT\s+(DISTINCT\s+)?TOP\s+(\d+)\b", re.I)


def _rewrite_top(sql: str) -> str:
    """Snowflake `SELECT [DISTINCT] TOP n <list> ...` -> the same SELECT with
    ` LIMIT n` appended at the end of that SELECT's own query block (the
    enclosing close-paren at the SELECT's depth, or end of statement).
    Literal-aware; nested subqueries inside the block are skipped whole."""
    while True:
        # search on a literal-masked copy (offsets preserved) so 'SELECT
        # TOP 3' inside a string never triggers
        masked = _STRING_RE.sub(
            lambda mm: "'" + " " * (len(mm.group(0)) - 2) + "'", sql
        )
        m = _TOP_RE.search(masked)
        if not m:
            return sql
        n = m.group(2)
        head = sql[: m.start()] + "SELECT " + (m.group(1) or "")
        rest = sql[m.end():]
        depth = 0
        end = len(rest)
        i = 0
        while i < len(rest):
            c = rest[i]
            if c == "'":
                j = i + 1
                while j < len(rest):
                    if rest[j] == "'":
                        if j + 1 < len(rest) and rest[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                i = j + 1
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif c == ";" and depth == 0:
                end = i
                break
            i += 1
        sql = head + rest[:end].rstrip() + f" LIMIT {n}" + rest[end:]


_STAR_MOD_RE = re.compile(
    r"\*\s+(?=(?:EXCLUDE|RENAME|REPLACE)\b)", re.I
)
_IDENT_RE_TXT = r"[A-Za-z_][A-Za-z0-9_$]*"


def rewrite_star_modifiers(sql: str) -> str:
    """Snowflake SELECT-star modifiers -> Spark:

      * EXCLUDE (a, b)            -> * EXCEPT (a, b)
      * RENAME (a AS b)           -> * EXCEPT (a), a AS b
      * REPLACE (expr AS a)       -> * EXCEPT (a), expr AS a
      * EXCLUDE x RENAME (a AS b) -> * EXCEPT (x, a), a AS b

    Spark 4 parses `* EXCEPT (...)` natively; RENAME/REPLACE become an
    EXCEPT plus trailing aliased columns. Divergence (documented): the
    renamed/replaced columns move to the END of the projection — Snowflake
    keeps them in place. Qualified `t.*` works the same way.
    """
    while True:
        # search on a literal-masked copy: '* EXCLUDE (x)' inside a string
        # must not trigger (offsets are preserved by same-length masking)
        masked = _STRING_RE.sub(lambda mm: "'" + " " * (len(mm.group(0)) - 2) + "'", sql)
        m = _STAR_MOD_RE.search(masked)
        if m is None:
            return sql
        i = m.end()
        excepts: list[str] = []
        extras: list[str] = []
        while True:
            mm = re.match(r"(EXCLUDE|RENAME|REPLACE)\s*", sql[i:], re.I)
            if not mm:
                break
            kw = mm.group(1).upper()
            j = i + mm.end()
            if j < len(sql) and sql[j] == "(":
                close = _match_paren(sql, j)
                items = _split_top_args(sql[j + 1 : close])
                nxt = close + 1
            else:  # single bare item without parens (EXCLUDE col / RENAME a AS b)
                mo = re.match(
                    rf"({_IDENT_RE_TXT}(?:\s+AS\s+{_IDENT_RE_TXT})?)", sql[j:], re.I
                ) if kw in ("RENAME", "REPLACE") else re.match(
                    rf"({_IDENT_RE_TXT})", sql[j:]
                )
                if not mo:
                    break
                items = [mo.group(1)]
                nxt = j + mo.end()
            for it in items:
                it = it.strip()
                if kw == "EXCLUDE":
                    excepts.append(it)
                else:
                    # split on the LAST depth-0 ' AS ' (REPLACE exprs may
                    # contain their own, e.g. CAST(a AS INT) AS a)
                    depth, split_at = 0, -1
                    for mo in re.finditer(r"[()\[\]]|\bAS\b", it, re.I):
                        tok = mo.group(0)
                        if tok in "([":
                            depth += 1
                        elif tok in ")]":
                            depth -= 1
                        elif depth == 0:
                            split_at = mo.start()
                    if split_at < 0:
                        return sql  # malformed — leave for Spark to report
                    src = it[:split_at].strip()
                    dst = it[split_at + 2 :].strip()
                    excepts.append(src if kw == "RENAME" else dst)
                    extras.append(f"{src} AS {dst}")
            i = nxt
            while i < len(sql) and sql[i].isspace():
                i += 1
        repl = f"* EXCEPT ({', '.join(excepts)})"
        if extras:
            repl += ", " + ", ".join(extras)
        sql = sql[: m.start()] + repl + " " + sql[i:]


_CTE_EVENT_RE = re.compile(r"conditional_true_event", re.I)


def _rewrite_window_events(sql: str) -> str:
    """CONDITIONAL_TRUE_EVENT(expr) OVER (spec) -> running SUM of the
    condition with an explicit ROWS frame (Spark's default ordered-window
    frame is RANGE, which would merge ORDER-BY ties into one event number).
    CONDITIONAL_CHANGE_EVENT needs a nested LAG and cannot be a single
    expression — it stays a DataFrame-level operator (win_change_event spec).
    """
    while True:
        m = _CTE_EVENT_RE.search(sql)
        if m is None:
            return sql
        j = m.start()
        k = m.end()
        while k < len(sql) and sql[k].isspace():
            k += 1
        if k >= len(sql) or sql[k] != "(":
            return sql  # not a call — leave (will fail loudly downstream)
        close = _match_paren(sql, k)
        expr = sql[k + 1 : close]
        p = close + 1
        while p < len(sql) and sql[p].isspace():
            p += 1
        if sql[p : p + 4].lower() != "over":
            return sql
        q = p + 4
        while q < len(sql) and sql[q].isspace():
            q += 1
        if q >= len(sql) or sql[q] != "(":
            return sql
        oclose = _match_paren(sql, q)
        body = sql[q + 1 : oclose]
        frame = "" if re.search(r"\brows\b|\brange\b", body, re.I) else " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        repl = f"SUM(CASE WHEN ({expr}) THEN 1 ELSE 0 END) OVER ({body}{frame})"
        sql = sql[:j] + repl + sql[oclose + 1 :]


# the separator (`,` or `CROSS JOIN`) is swallowed with the match and
# re-emitted canonically: `LATERAL VIEW` must not follow `CROSS JOIN`, and
# the recursive UDTF join must not gain a double separator
_FLATTEN_START_RE = re.compile(r"(?:,|\bCROSS\s+JOIN\b)?\s*\bLATERAL\s+FLATTEN\s*\(", re.I)
_FLATTEN_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", re.I)
_NOT_ALIAS_KWS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "ON", "JOIN",
    "LEFT", "RIGHT", "INNER", "OUTER", "CROSS", "FULL", "UNION", "EXCEPT",
    "INTERSECT", "LATERAL", "AS",
}


def _parse_flatten_args(inner: str) -> tuple[str, str | None, bool, bool, str]:
    """FLATTEN's kwargs -> (input expr, path or None, outer, recursive,
    mode). MODE => 'ARRAY'/'BOTH' flattens arrays (explode's native
    domain); MODE => 'OBJECT' emits one (key, value) row per object member
    (Spark can't pick per row — Snowflake's BOTH is dynamic — so OBJECT is
    explicit); RECURSIVE => TRUE routes to the flatten_recursive UDTF
    (operators/flatten.py), which walks both."""
    input_expr, path, outer, recursive, mode = None, None, False, False, "ARRAY"
    for arg in _split_top_args(inner):
        m = re.match(r"(?is)\s*(INPUT|PATH|OUTER|MODE|RECURSIVE)\s*=>\s*(.*)", arg)
        if not m:
            input_expr = arg.strip()  # positional input
            continue
        key, val = m.group(1).upper(), m.group(2).strip()
        if key == "INPUT":
            input_expr = val
        elif key == "PATH":
            path = val.strip("'\"")
        elif key == "OUTER":
            outer = val.upper() == "TRUE"
        elif key == "RECURSIVE":
            recursive = val.upper() == "TRUE"
        elif key == "MODE":
            mode = val.strip("'\"").upper()
    if input_expr is None:
        raise ValueError(f"FLATTEN without an input argument: {inner[:80]}")
    return input_expr, path, outer, recursive, mode


#: textual signals that a FLATTEN input is VARIANT (JSON text in this
#: engine): PARSE_JSON (stripped to its string argument later in the
#: pipeline), the JSON-path accessors (all return STRING), TO_VARIANT,
#: or a bare string literal. A raw single-colon path (v:items) is detected
#: separately (it rewrites to get_json_object downstream).
_VARIANTISH_RE = re.compile(
    r"(?i)\bPARSE_JSON\s*\(|\bTRY_PARSE_JSON\s*\(|\bGET_PATH\s*\(|"
    r"\bJSON_EXTRACT_PATH_TEXT\s*\(|\bGET_JSON_OBJECT\s*\(|\bTO_VARIANT\s*\("
)


def _looks_variant(expr: str) -> bool:
    e = expr.strip()
    if _VARIANTISH_RE.search(e) or _STRING_RE.fullmatch(e):
        return True
    # single colon outside string literals = Snowflake path access (:: is a
    # cast and must not trigger)
    in_str = False
    i = 0
    while i < len(e):
        c = e[i]
        if c == "'":
            in_str = not in_str
        elif not in_str and c == ":":
            if i + 1 < len(e) and e[i + 1] == ":":
                i += 2
                continue
            if i > 0 and e[i - 1] == ":":
                i += 1
                continue
            return True
        i += 1
    return False


def rewrite_flatten(sql: str, coerce_all: bool = False) -> str:
    """Snowflake `, LATERAL FLATTEN(input => expr [, path/outer/mode]) f` ->
    Spark `LATERAL VIEW [explode|explode_outer](expr[path]) f AS value`
    (f.value keeps working; the reference flags FLATTEN as a dialect hard
    part, SURVEY.md §7.3). PATH => 'a.b' becomes bracket navigation
    (works on struct fields and map keys alike); OUTER => TRUE keeps rows
    whose input is empty/NULL via explode_outer.

    VARIANT inputs (JSON text under this engine's VARIANT convention):
    explode() needs an array, so inputs that are textually variant-ish —
    PARSE_JSON(...), colon paths, JSON-path accessors, string literals —
    coerce through ``from_json(x, 'array<string>')``, whose elements are
    each element's JSON text (Spark re-serializes nested objects rather
    than nulling them), i.e. exactly the VARIANT values Snowflake's
    FLATTEN emits. ``coerce_all`` applies the same wrap to EVERY
    non-recursive input — the engine's retry path for flattening a bare
    JSON-text COLUMN, where no textual signal exists (Engine._run_select
    retries on the explode type-mismatch error).

    The argument is paren-MATCHED, not regex-scanned, so nested calls like
    FLATTEN(input => split(f(x), ',')) rewrite correctly."""
    out: list[str] = []
    #: (alias, 'OBJECT'|'ARRAY', raw input expr, PATH arg, end position of
    #: the emitted LATERAL clause in the rewritten string) per flatten —
    #: consumed by the post-pass that resolves the SEQ/THIS/PATH columns
    extras: list[tuple[str, str, str, str | None, int]] = []
    cum = 0  # length of "".join(out) so far — tracks rewrite positions
    i = 0
    while True:
        m = _FLATTEN_START_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        open_idx = m.end() - 1
        close = _match_paren(sql, open_idx)
        input_expr, path, outer, recursive, mode = _parse_flatten_args(
            sql[open_idx + 1 : close].strip()
        )
        raw_input, raw_path = input_expr, path
        obj_mode = mode == "OBJECT"
        if not recursive and (obj_mode or coerce_all or _looks_variant(input_expr)):
            if path:
                input_expr = f"get_json_object({input_expr}, '$.{path}')"
                path = None
            elem = "map<string,string>" if obj_mode else "array<string>"
            input_expr = f"from_json({input_expr}, '{elem}')"
        if path:
            nav = "".join(f"['{p}']" for p in path.split("."))
            input_expr = f"({input_expr}){nav}"
        alias, j = "f", close + 1
        am = _FLATTEN_ALIAS_RE.match(sql, close + 1)
        if am and am.group(1).upper() not in _NOT_ALIAS_KWS:
            alias, j = am.group(1), am.end()
        out.append(sql[i : m.start()])
        cum += m.start() - i
        if recursive:
            # Lateral-correlated Python UDTF (operators/flatten.py) — emits
            # (key, path, idx, value) for every element at every depth.
            fn = "flatten_recursive_outer" if outer else "flatten_recursive"
            out.append(f", LATERAL {fn}({input_expr}) {alias}")
        elif obj_mode:
            # object members: one (key, value) row each — Snowflake's KEY
            # column; members of a JSON object are unordered, so no INDEX
            fn = "explode_outer" if outer else "explode"
            out.append(f" LATERAL VIEW {fn}({input_expr}) {alias} AS key, value")
        else:
            # posexplode: Snowflake FLATTEN's INDEX column (0-based, NULL
            # under OUTER on empty input) comes for free next to VALUE
            fn = "posexplode_outer" if outer else "posexplode"
            out.append(f" LATERAL VIEW {fn}({input_expr}) {alias} AS index, value")
        cum += len(out[-1])
        if not recursive:
            extras.append(
                (alias, "OBJECT" if obj_mode else "ARRAY", raw_input, raw_path, cum)
            )
        i = j
    res = "".join(out)
    # Snowflake FLATTEN's remaining output columns, resolved ONLY where
    # referenced (LATERAL VIEW can't emit computed columns next to the
    # generator's): THIS = the element being flattened (the raw input —
    # JSON text for variant inputs, per the VARIANT convention); PATH =
    # '[i]' for array elements (PATH-arg-prefixed) / the member key for
    # OBJECT mode; SEQ = unique per distinct input value via xxhash64
    # (Snowflake only promises uniqueness per input record — identical
    # inputs sharing a seq is the one divergence, documented in
    # COVERAGE.md). f.* keeps the (index|key, value) pair only.
    #
    # Scoping: when two flattens in DIFFERENT query blocks share an alias
    # (both named `f` in UNION branches, say), a statement-global re.sub
    # would resolve both branches' f.this against the FIRST flatten's raw
    # input. So substitution is dispatched by match POSITION: for an alias
    # used by n>1 flattens, flatten k owns the region up to the block start
    # of flatten k+1, approximated by the first SELECT keyword after
    # flatten k's emitted LATERAL clause (references precede AND follow the
    # LATERAL within a block, so the split must fall between blocks, not at
    # the LATERAL itself). One combined re.sub over the final string keeps
    # every recorded position valid — matching never sees shifted offsets.
    if extras:
        by_alias: dict[str, list[tuple[str, str, str, str | None, int]]] = {}
        for rec in extras:
            by_alias.setdefault(rec[0].lower(), []).append(rec)
        #: alias(lower) -> (region split points, recs); regions[k] spans
        #: [splits[k-1], splits[k]) with sentinel 0 / len(res) at the ends
        regions: dict[str, tuple[list[int], list]] = {}
        for key, group in by_alias.items():
            splits = []
            for rec in group[:-1]:
                sm = re.compile(r"\bSELECT\b", re.I).search(res, rec[4])
                splits.append(sm.start() if sm else len(res))
            regions[key] = (splits, group)
        alias_alt = "|".join(
            sorted({re.escape(rec[0]) for rec in extras}, key=len, reverse=True)
        )
        pat = rf"\b({alias_alt})\s*\.\s*(seq|this|path)\b"

        def _col(mm: re.Match) -> str:
            splits, group = regions[mm.group(1).lower()]
            k = sum(1 for s in splits if s <= mm.start())
            _a, _m, _raw, _rp, _ = group[min(k, len(group) - 1)]
            col = mm.group(2).lower()
            if col == "seq":
                return f"abs(xxhash64({_raw}))"
            if col == "this":
                return f"({_raw})"
            if _m == "OBJECT":
                return f"{_a}.key"
            prefix = f"'{_rp}', " if _rp else ""
            return f"concat({prefix}'[', {_a}.index, ']')"

        res = re.sub(pat, _col, res, flags=re.I)
    return res


_QUALIFY_KW_RE = re.compile(r"\bQUALIFY\b", re.I)
_TAIL_KW_RE = re.compile(r"\bORDER\s+BY\b|\bLIMIT\b", re.I)
_OVER_RE = re.compile(r"\bOVER\s*\(", re.I)


def _window_spans(cond: str) -> list[tuple[int, int]]:
    """(start, end) spans of full window expressions `fn(args) OVER (spec)`
    inside a QUALIFY condition — found by paren-matching in both directions
    from each OVER, so arbitrarily nested arguments survive."""
    spans: list[tuple[int, int]] = []
    for m in _OVER_RE.finditer(cond):
        close = _match_paren(cond, m.end() - 1)
        # walk left over the window function's own (args)
        j = m.start() - 1
        while j >= 0 and cond[j].isspace():
            j -= 1
        start = m.start()
        if j >= 0 and cond[j] == ")":
            depth = 0
            while j >= 0:
                if cond[j] == ")":
                    depth += 1
                elif cond[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            j -= 1
            while j >= 0 and (cond[j].isalnum() or cond[j] == "_"):
                j -= 1
            start = j + 1
        spans.append((start, close + 1))
    return spans


def rewrite_qualify(sql: str) -> str:
    """Snowflake/DuckDB QUALIFY -> Spark subquery + WHERE.

    General shape: every `fn(...) OVER (...)` window expression in the
    condition is projected as a helper column (`__q0`, `__q1`, ...) in the
    inner select; the condition — arbitrary boolean structure, AND/OR'd
    window predicates included — is filtered OUTSIDE with the windows
    replaced by their aliases. Spark cannot filter on window functions in
    WHERE, hence the projection. A condition with no window expression
    (select-alias form) filters the aliased subquery directly.
    """
    km = _QUALIFY_KW_RE.search(sql)
    if not km:
        return sql
    body = sql[: km.start()].rstrip()
    rest = sql[km.end() :]
    # find the first ORDER BY / LIMIT at paren depth 0 (the one inside an
    # OVER(...) clause must not split the condition)
    depth, split_at = 0, len(rest)
    for i, ch in enumerate(rest):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            tm = _TAIL_KW_RE.match(rest, i)
            if tm:
                split_at = i
                break
    cond, tail = rest[:split_at].strip(), rest[split_at:].strip()
    spans = _window_spans(cond)
    if spans:
        helpers, out_cond, last = [], [], 0
        for n, (s, e) in enumerate(spans):
            helpers.append(f"{cond[s:e]} AS __q{n}")
            out_cond.append(cond[last:s])
            out_cond.append(f"__q{n}")
            last = e
        out_cond.append(cond[last:])
        inner = re.sub(
            r"^\s*SELECT\s+", f"SELECT {', '.join(helpers)}, ", body, count=1, flags=re.I
        )
        drop = ", ".join(f"__q{n}" for n in range(len(spans)))
        # Spark 3.4+ star-EXCEPT keeps the helper columns out of the result
        return f"SELECT * EXCEPT ({drop}) FROM ({inner}) __q WHERE {''.join(out_cond)} {tail}".rstrip()
    return f"SELECT * FROM ({body}) __q WHERE {cond} {tail}".rstrip()


_SOLO_LV_RE = re.compile(r"(?i)\bFROM\s+LATERAL\s+VIEW\s+((?:pos)?explode(?:_outer)?)\s*\(")


def _solo_lateral_view_to_tvf(sql: str) -> str:
    """`FROM LATERAL VIEW posexplode(x) f AS index, value` (the solo
    TABLE(FLATTEN(...)) shape) -> `FROM posexplode(x) AS f(index, value)`:
    Spark's explode family works as a FROM-clause table function (3.4+),
    and unlike LATERAL VIEW the TVF form may be followed by JOINs."""
    out, i = [], 0
    while True:
        m = _SOLO_LV_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        open_idx = m.end() - 1
        close = _match_paren(sql, open_idx)
        am = re.match(r"\s*(\w+)\s+AS\s+(\w+),\s*(\w+)", sql[close + 1 :])
        if close < 0 or not am:
            out.append(sql[i : m.end()])
            i = m.end()
            continue
        alias, c1, c2 = am.groups()
        out.append(sql[i : m.start()])
        out.append(f"FROM {m.group(1)}{sql[open_idx:close + 1]} AS {alias}({c1}, {c2})")
        i = close + 1 + am.end()
    return "".join(out)


def strip_table_wrapper(sql: str) -> str:
    """`SELECT * FROM table(to_query('...'))` -> `SELECT * FROM to_query('...')`
    (the engine then intercepts to_query; reference duckdb.py:428-434)."""
    return _TABLE_WRAPPER_RE.sub(r"\1", sql)


_IDENTIFIER_RE = re.compile(r"\bIDENTIFIER\s*\(\s*'([\w.\"]+)'\s*\)", re.I)

_POSITIONAL_RE = re.compile(r"(?<![\w$])\$(\d+)\b")


def _rewrite_positional(chunk: str) -> str:
    """Snowflake positional stage columns `$1` -> Spark headerless-CSV `_c0`
    (reference parses these in tests/scratch/sqlglot_tests.py:20-25)."""
    return _POSITIONAL_RE.sub(lambda m: f"_c{int(m.group(1)) - 1}", chunk)


_TO_DATETIME_RE = re.compile(
    r"\b(TRY_TO_DATE|TRY_TO_TIMESTAMP|TRY_TO_TIMESTAMP_NTZ|TO_DATE|TO_TIMESTAMP|TO_TIMESTAMP_NTZ)"
    r"\s*\(([^,()]+),\s*'([^']+)'\s*\)", re.I
)


def _map_to_datetime(m: re.Match) -> str:
    """TO_DATE(x, 'YYYY-MM-DD') -> to_date(x, 'yyyy-MM-dd') etc. — Snowflake
    format tokens mapped to JDK patterns (shared table with COPY options)."""
    from universql_spark.copy_into import _map_datetime_format

    up = m.group(1).upper()
    fn = {
        "TO_DATE": "to_date",
        "TRY_TO_DATE": "try_to_date",
        "TRY_TO_TIMESTAMP": "try_to_timestamp",
        "TRY_TO_TIMESTAMP_NTZ": "try_to_timestamp",
    }.get(up, "to_timestamp")
    return f"{fn}({m.group(2)}, '{_map_datetime_format(m.group(3))}')"


#: whitespace is legal around the path separators too (`v:a . b [0]`);
#: matched here and stripped at emission
_COLON_PATH_RE = re.compile(
    r":((?:[A-Za-z_]\w*|\[\d+\])(?:\s*\.\s*[A-Za-z_]\w*|\s*\[\d+\])*)"
)


_TIME_COLON_CAST_RE = re.compile(r"::\s*TIME\b(?!STAMP)(\s*\(\s*\d+\s*\))?", re.I)
_TIME_CAST_AS_RE = re.compile(r"\sAS\s+TIME(\s*\(\s*\d+\s*\))?\s*$", re.I)
_TIME_SHAPED_RE = re.compile(
    r"^\s*(?:(?:TO_TIME|TRY_TO_TIME|TIME_FROM_PARTS)\s*\(|'\d{1,2}:\d{2}(?::\d{2}(?:\.\d+)?)?'\s*$)",
    re.I,
)


def _colon_cast_operand_start(masked: str, pos: int) -> int:
    """Start index of the primary expression ending just before the `::` at
    ``pos`` (identifier chains, masked string literals, numbers, function
    calls, parenthesized expressions — scanned on a literal-masked copy)."""
    i = pos - 1
    while i >= 0 and masked[i].isspace():
        i -= 1
    while i >= 0:
        if masked[i] == ")":
            depth = 0
            while i >= 0:
                if masked[i] == ")":
                    depth += 1
                elif masked[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            i -= 1
            # optional function name directly before the '('
            j = i
            while j >= 0 and (masked[j].isalnum() or masked[j] in "_$"):
                j -= 1
            if j < i:
                i = j
        elif masked[i] == "\x00":  # masked string literal
            while i >= 0 and masked[i] == "\x00":
                i -= 1
        elif masked[i].isalnum() or masked[i] in "_$":
            while i >= 0 and (masked[i].isalnum() or masked[i] in "_$."):
                i -= 1
        else:
            break
        # qualified continuation (a.b, sch.fn(...)) — keep scanning
        j = i
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j >= 0 and masked[j] == ".":
            i = j - 1
            continue
        break
    return i + 1


def _rewrite_time_surface(sql: str) -> str:
    """TIME-type spellings onto the canonical 'HH:mm:ss' string mapping:
    `x::TIME` and CAST/TRY_CAST(x AS TIME[(p)]) become TO_TIME(x) (the
    rewrites that follow expand it), and TIMEADD/DATEADD whose target is
    statically time-shaped (a TO_TIME/TIME_FROM_PARTS call or a quoted
    time literal) wraps through a 1970-01-01 timestamp and formats back —
    wrapping past midnight rolls the day off, Snowflake's TIME arithmetic
    contract. Column references of time-string columns are not statically
    detectable — those flow through the plain timestamp path (documented
    subset)."""
    spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked_s = "".join(masked)
    for m in reversed(list(_TIME_COLON_CAST_RE.finditer(masked_s))):
        start = _colon_cast_operand_start(masked_s, m.start())
        operand = sql[start : m.start()].strip()
        sql = sql[:start] + f"TO_TIME({operand})" + sql[m.end() :]
        # lengths shifted — re-mask from scratch for the next iteration
        spans = [(x.start(), x.end()) for x in _STRING_RE.finditer(sql)]
        masked = list(sql)
        for a, b in spans:
            masked[a:b] = "\x00" * (b - a)
        masked_s = "".join(masked)

    def cast_rw(fname: str):
        # TRY_CAST(x AS TIME) must yield NULL on garbage (Snowflake
        # contract) — route it through TRY_TO_TIME, which the later
        # to_time_rw pass expands with try_to_timestamp; strict CAST
        # keeps the erroring TO_TIME path.
        target = "TRY_TO_TIME" if fname == "TRY_CAST" else "TO_TIME"

        def rw(a: list[str]) -> str | None:
            if len(a) != 1:
                return None
            m2 = _TIME_CAST_AS_RE.search(a[0])
            if not m2:
                return None
            return f"{target}({a[0][: m2.start()]})"

        return rw

    sql = _rewrite_calls(sql, "cast", cast_rw("CAST"))
    sql = _rewrite_calls(sql, "try_cast", cast_rw("TRY_CAST"))

    def time_add_rw(a: list[str]) -> str | None:
        if len(a) != 3 or not _TIME_SHAPED_RE.match(a[2].strip()):
            return None
        return (
            f"date_format(timestampadd({a[0]}, {a[1]}, "
            f"to_timestamp(concat('1970-01-01 ', {a[2]}))), 'HH:mm:ss')"
        )

    for f in ("timeadd", "dateadd"):
        sql = _rewrite_calls(sql, f, time_add_rw)
    return sql


_INT_COLON_CAST_RE = re.compile(
    r"::\s*(INT|INTEGER|BIGINT|SMALLINT|TINYINT|BYTEINT)\b", re.I
)
_INT_CAST_AS_RE = re.compile(
    r"\sAS\s+(INT|INTEGER|BIGINT|SMALLINT|TINYINT|BYTEINT)\s*$", re.I
)


def _round_integer_casts(sql: str) -> str:
    """Integer-target casts round half away from zero in Snowflake (and
    DuckDB); Spark truncates. Chain through DECIMAL(38,0) — whose Spark
    cast rounds — for both the `::INT` postfix and CAST/TRY_CAST forms.
    The `::` substitution scans a literal-masked copy (a string literal
    could contain '::INT'); the CAST rewrites are quote-aware already."""
    spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked = "".join(masked)
    for m in reversed(list(_INT_COLON_CAST_RE.finditer(masked))):
        sql = (
            sql[: m.start()]
            + f"::DECIMAL(38, 0)::{m.group(1)}"
            + sql[m.end() :]
        )

    def cast_rw(fname: str):
        def rw(a: list[str]) -> str | None:
            if len(a) != 1:
                return None
            m = _INT_CAST_AS_RE.search(a[0])
            if not m:
                return None
            inner = a[0][: m.start()]
            return f"{fname}({inner} AS DECIMAL(38, 0))::{m.group(1)}"

        return rw

    sql = _rewrite_calls(sql, "cast", cast_rw("CAST"))
    sql = _rewrite_calls(sql, "try_cast", cast_rw("TRY_CAST"))
    return sql


_QUANT_RE = re.compile(r"(=|<>|!=|>=|<=|>|<)\s*(ANY|SOME|ALL)\s*\(", re.I)


def _rewrite_quantified_comparisons(sql: str) -> str:
    """Quantified subquery comparisons — `x = ANY (sub)`, `x > ALL (sub)` —
    which Spark's parser lacks (only IN/EXISTS). `= ANY/SOME` -> IN and
    `<> ALL` -> NOT IN are exact; the ordering forms become MIN/MAX scalar
    comparisons with an emptiness guard (ALL over the empty set is TRUE,
    ANY is FALSE). NULL elements: the MIN/MAX forms yield TRUE/FALSE where
    the standard's three-valued logic can yield UNKNOWN — identical under
    WHERE (UNKNOWN filters like FALSE), divergent only when the bare
    boolean is projected or negated with NULL elements present
    (documented narrow edge; r8 probe sweep #9)."""
    while True:
        spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
        masked = list(sql)
        for a, b in spans:
            masked[a:b] = "\x00" * (b - a)
        masked = "".join(masked)
        m = _QUANT_RE.search(masked)
        if m is None:
            return sql
        op, quant = m.group(1), m.group(2).upper()
        open_idx = m.end() - 1
        close = _match_paren(sql, open_idx)
        sub = sql[open_idx + 1 : close]
        if op == "=" and quant in ("ANY", "SOME"):
            sql = sql[: m.start()] + f"IN ({sub})" + sql[close + 1 :]
            continue
        if op in ("<>", "!=") and quant == "ALL":
            sql = sql[: m.start()] + f"NOT IN ({sub})" + sql[close + 1 :]
            continue
        # ordering / remaining forms need the left operand's span
        j = m.start()
        while j > 0 and masked[j - 1] in " \t\n\r":
            j -= 1
        k = j
        if k > 0 and masked[k - 1] == ")":
            depth = 0
            k -= 1
            while k >= 0:
                if masked[k] == ")":
                    depth += 1
                elif masked[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            while k > 0 and (masked[k - 1].isalnum() or masked[k - 1] in "_."):
                k -= 1
        elif k > 0 and masked[k - 1] == "\x00":
            k = dict((b, a) for a, b in spans)[k]
        else:
            while k > 0 and (masked[k - 1].isalnum() or masked[k - 1] in "_.$"):
                k -= 1
        lhs = sql[k:j].strip() or "NULL"
        agg_of = {
            (">", "ALL"): "MAX", (">=", "ALL"): "MAX",
            ("<", "ALL"): "MIN", ("<=", "ALL"): "MIN",
            (">", "ANY"): "MIN", (">=", "ANY"): "MIN",
            ("<", "ANY"): "MAX", ("<=", "ANY"): "MAX",
            (">", "SOME"): "MIN", (">=", "SOME"): "MIN",
            ("<", "SOME"): "MAX", ("<=", "SOME"): "MAX",
        }.get((op, quant))
        empty_val = "TRUE" if quant == "ALL" else "FALSE"
        guard = f"WHEN NOT EXISTS (SELECT 1 FROM ({sub}) AS __qt(__v)) THEN {empty_val}"
        if agg_of is not None:
            body = f"({lhs}) {op} (SELECT {agg_of}(__v) FROM ({sub}) AS __qt(__v))"
        elif op == "=" and quant == "ALL":
            body = (f"({lhs}) = (SELECT MIN(__v) FROM ({sub}) AS __qt(__v)) "
                    f"AND ({lhs}) = (SELECT MAX(__v) FROM ({sub}) AS __qt(__v))")
        else:  # <> / != ANY|SOME
            body = (f"(({lhs}) <> (SELECT MIN(__v) FROM ({sub}) AS __qt(__v)) "
                    f"OR ({lhs}) <> (SELECT MAX(__v) FROM ({sub}) AS __qt(__v)))")
        sql = sql[:k] + f"(CASE {guard} ELSE {body} END)" + sql[close + 1 :]


def _tighten_path_colons(sql: str) -> str:
    """Snowflake allows whitespace around the semi-structured path colon
    (`v : a` == `v:a`); the path rewrite below matches the tight form only.
    Remove the whitespace when BOTH sides qualify — the left end is an
    identifier char / `)` / `]` / string literal and the right starts a
    path segment — so bind-style `:name` after operators/commas and `::`
    casts are untouched (r8 probe sweep #8)."""
    spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked = "".join(masked)
    for p in range(len(masked) - 1, -1, -1):
        if masked[p] != ":":
            continue
        if (p > 0 and masked[p - 1] == ":") or masked[p + 1 : p + 2] == ":":
            continue  # '::' cast
        l = p - 1
        while l >= 0 and masked[l] in " \t\n\r":
            l -= 1
        r = p + 1
        while r < len(masked) and masked[r] in " \t\n\r":
            r += 1
        if l == p - 1 and r == p + 1:
            continue  # already tight
        if l < 0 or r >= len(masked):
            continue
        left_ok = masked[l].isalnum() or masked[l] in "_)]\x00"
        right_ok = masked[r].isalpha() or masked[r] in "_["
        if left_ok and right_ok:
            sql = sql[: l + 1] + ":" + sql[r:]
            masked = masked[: l + 1] + ":" + masked[r:]
    return sql


def _rewrite_colon_paths(sql: str) -> str:
    """Snowflake semi-structured access `v:a.b[0]` -> Spark
    `get_json_object(v, '$.a.b[0]')` — VARIANT here IS JSON text (the
    reference's own mapping, duckdb.py:443-444), so JSONPath extraction is
    the faithful semantics. The lhs may be a dotted column chain
    (t.payload:k), a parenthesized/call expression ((x):k after the
    PARSE_JSON strip, f(x):k), or a string literal ('{"k":1}':k). `::`
    casts never match (':' is not a path character and ':' is not a valid
    lhs end). Scans a literal-MASKED copy so colons/parens inside strings
    are structurally invisible while literal lhs spans stay recoverable."""
    spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked = "".join(masked)
    ends = {b: a for a, b in spans}
    out, i = [], 0
    while True:
        m = _COLON_PATH_RE.search(masked, i)
        if not m:
            out.append(sql[i:])
            break
        j = m.start()
        prev = masked[j - 1] if j else ""
        if prev == ")":
            k, depth = j - 1, 0
            while k >= 0:
                if masked[k] == ")":
                    depth += 1
                elif masked[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            while k > 0 and (masked[k - 1].isalnum() or masked[k - 1] in "_."):
                k -= 1  # include the call's function name: f(x):k
        elif prev == "\x00":
            k = ends[j]  # string-literal lhs
        elif prev.isalnum() or prev == "_":
            k = j - 1
            while k > 0 and (masked[k - 1].isalnum() or masked[k - 1] in "_."):
                k -= 1
        else:
            # '::' cast or stray colon: copy through untouched
            out.append(sql[i : m.end()])
            i = m.end()
            continue
        out.append(sql[i:k])
        path = re.sub(r"\s+", "", m.group(1))
        out.append(f"get_json_object({sql[k:j]}, '$.{path}')")
        i = m.end()
    return "".join(out)


_DOLLAR_QUOTE_RE = re.compile(r"\$\$(.*?)\$\$", re.S)

#: Snowflake `SAMPLE [ROW|BERNOULLI|SYSTEM|BLOCK] (n [ROWS]) [SEED|REPEATABLE (s)]`
#: -> Spark `TABLESAMPLE (n ROWS | p PERCENT) [REPEATABLE (s)]`. ROW/BERNOULLI
#: sample per-row, SYSTEM/BLOCK per-block; Spark's TABLESAMPLE PERCENT is
#: block-ish Bernoulli — the sampling UNIT differs but the contract (≈p% of
#: rows, nondeterministic without a seed) is the same, which is also how the
#: reference treats it (SAMPLE is routed, not reimplemented).
_SAMPLE_RE = re.compile(
    r"\b(?:TABLE)?SAMPLE\s+(?:(?:ROW|BERNOULLI|SYSTEM|BLOCK)\s*)?"
    r"\(\s*(\d+(?:\.\d+)?)\s*(ROWS?)?\s*\)"
    r"(?:\s*(?:SEED|REPEATABLE)\s*\(\s*(\d+)\s*\))?",
    re.I,
)


def _rewrite_sample(chunk: str) -> str:
    def repl(m: re.Match) -> str:
        n, rows, seed = m.group(1), m.group(2), m.group(3)
        spec = f"{n} ROWS" if rows else f"{n} PERCENT"
        rep = f" REPEATABLE ({seed})" if seed else ""
        return f"TABLESAMPLE ({spec}){rep}"

    return _SAMPLE_RE.sub(repl, chunk)


#: Snowflake hierarchical query: SELECT ... FROM t START WITH <cond>
#: CONNECT BY <child> = PRIOR <parent> [ORDER BY ...]. Rewritten to an ANSI
#: recursive CTE (Spark 4.1 supports WITH RECURSIVE), with the LEVEL
#: pseudo-column materialized as the recursion depth.
_CONNECT_BY_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<table>[\w.\"]+)\s+"
    r"START\s+WITH\s+(?P<start>.*?)\s+CONNECT\s+BY\s+(?P<cond>.*?)"
    r"(?P<tail>\s+ORDER\s+BY\s+.*)?$",
    re.I | re.S,
)
_PRIOR_COND_RE = re.compile(
    r"^(?:(?P<a>[\w.\"]+)\s*=\s*PRIOR\s+(?P<b>[\w.\"]+)"
    r"|PRIOR\s+(?P<c>[\w.\"]+)\s*=\s*(?P<d>[\w.\"]+))$",
    re.I,
)


def rewrite_connect_by(sql: str) -> str:
    m = _CONNECT_BY_RE.match(sql)
    if not m:
        return sql
    pc = _PRIOR_COND_RE.match(m.group("cond").strip())
    if not pc:
        raise ValueError(
            "CONNECT BY supports the form `<child_col> = PRIOR <parent_col>` "
            f"(got: {m.group('cond').strip()[:80]})"
        )
    # normalize: child column on the new row joins the PRIOR row's parent col
    child = pc.group("a") or pc.group("d")
    parent = pc.group("b") or pc.group("c")
    t, start, tail = m.group("table"), m.group("start").strip(), m.group("tail") or ""
    select = m.group("select").strip()
    return (
        f"WITH RECURSIVE __cb AS ("
        f"SELECT {t}.*, 1 AS level FROM {t} WHERE {start} "
        f"UNION ALL "
        f"SELECT {t}.*, __cb.level + 1 FROM {t} JOIN __cb ON {t}.{child} = __cb.{parent}"
        f") SELECT {select} FROM __cb{tail}"
    )


_ARRAY_AGG_WG_RE = re.compile(r"\bARRAY_AGG\s*\(", re.I)
_WITHIN_GROUP_RE = re.compile(r"\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+", re.I)


def _rewrite_array_agg_within_group(sql: str) -> str:
    """ARRAY_AGG(x) WITHIN GROUP (ORDER BY y [DESC]) — Spark's array_agg
    has no WITHIN GROUP. Same-expression ordering becomes sort_array;
    order-by-another-expression packs (order key, value) structs, sorts,
    and projects the value back out."""
    out: list[str] = []
    i = 0
    while True:
        m = _ARRAY_AGG_WG_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        arg_close = _match_paren(sql, m.end() - 1)
        wg = _WITHIN_GROUP_RE.match(sql[arg_close + 1 :])
        if not wg:
            out.append(sql[i : arg_close + 1])
            i = arg_close + 1
            continue
        # wg matched through 'ORDER BY '; the enclosing paren opened inside it
        close = _match_paren(sql, arg_close + 1 + wg.group(0).rindex("("))
        order = sql[arg_close + 1 + wg.end() : close].strip()
        x = sql[m.end() : arg_close].strip()
        # parse the order list into (expr, desc, nulls_first) triples —
        # Snowflake defaults: ASC -> NULLS LAST, DESC -> NULLS FIRST
        keys: list[tuple[str, bool, bool]] = []
        for part in _split_top_args(order):
            p = part.strip()
            nf = re.search(r"\sNULLS\s+(FIRST|LAST)\s*$", p, re.I)
            if nf:
                p = p[: nf.start()].rstrip()
            dm = re.search(r"\s(ASC|DESC)\s*$", p, re.I)
            kdesc = bool(dm and dm.group(1).upper() == "DESC")
            if dm:
                p = p[: dm.start()].rstrip()
            nulls_first = (nf.group(1).upper() == "FIRST") if nf else kdesc
            keys.append((p, kdesc, nulls_first))
        desc = keys[0][1] if keys else False
        key = keys[0][0] if len(keys) == 1 else ""
        out.append(sql[i : m.start()])
        # ARRAY_AGG(DISTINCT x) WITHIN GROUP: Snowflake requires the order
        # key to be the DISTINCT expression itself, so the sort_array path
        # is always valid (the struct path would nest DISTINCT invalidly)
        dx = re.match(r"(?is)^DISTINCT\s+(.*)$", x)
        if dx:
            if key != dx.group(1).strip():
                raise ValueError(
                    "ARRAY_AGG(DISTINCT ...) WITHIN GROUP must order by the "
                    "DISTINCT expression (Snowflake restriction)"
                )
            key = x
        # windowed form: ARRAY_AGG(x) WITHIN GROUP (ORDER BY o) OVER
        # (PARTITION BY p) — Spark's array_agg window collects in FRAME
        # order, so the WITHIN GROUP order moves into the window spec with
        # a full frame; DISTINCT (unsupported as a Spark distinct window
        # agg) becomes array_distinct over the ordered collect, which
        # preserves the sort because first occurrences arrive in order.
        ov = re.match(r"\s*OVER\s*\(", sql[close + 1 :], re.I)
        if ov:
            spec_open = close + 1 + ov.end() - 1
            spec_close = _match_paren(sql, spec_open)
            spec = sql[spec_open + 1 : spec_close].strip()
            if re.search(r"\bORDER\s+BY\b", spec, re.I):
                raise ValueError(
                    "ARRAY_AGG WITHIN GROUP ... OVER: the OVER clause may "
                    "only contain PARTITION BY (Snowflake restriction)"
                )
            frame = (
                f"{spec} ORDER BY {order} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
            ).strip()
            if dx:
                arr = f"array_distinct(array_agg({dx.group(1).strip()}) OVER ({frame}))"
            else:
                arr = f"array_agg({x}) OVER ({frame})"
            out.append(arr)
            i = spec_close + 1
            continue
        if key == x:
            # single same-expression key: ARRAY_AGG skips NULL inputs, so
            # sort_array's null placement can't diverge from Snowflake's
            arr = f"sort_array(array_agg({x})" + (", false)" if desc else ")")
        else:
            # general case — any key count, mixed ASC/DESC, NULLS
            # FIRST/LAST: pack the key tuple + value into structs and sort
            # with an explicit comparator (the r8 probe found the old
            # trailing-DESC + whole-array reverse silently mis-sorted
            # mixed-direction multi-key orders)
            conds: list[str] = []
            for idx, (e, kdesc, nfirst) in enumerate(keys):
                lf, rf = f"l.o{idx}", f"r.o{idx}"
                lt, gt = (1, -1) if kdesc else (-1, 1)
                ln, rn = (-1, 1) if nfirst else (1, -1)
                conds.append(f"WHEN {lf} IS NULL AND {rf} IS NOT NULL THEN {ln}")
                conds.append(f"WHEN {lf} IS NOT NULL AND {rf} IS NULL THEN {rn}")
                conds.append(f"WHEN {lf} < {rf} THEN {lt}")
                conds.append(f"WHEN {lf} > {rf} THEN {gt}")
            comparator = f"(l, r) -> CASE {' '.join(conds)} ELSE 0 END"
            fields = ", ".join(f"({e}) AS o{idx}" for idx, (e, _, _) in enumerate(keys))
            arr = (
                f"transform(array_sort(array_agg(struct({fields}, ({x}) AS v)), "
                f"{comparator}), __s -> __s.v)"
            )
        out.append(arr)
        i = close + 1
    return "".join(out)


_LISTAGG_DISTINCT_RE = re.compile(r"\bLISTAGG\s*\(\s*DISTINCT\b", re.I)


def _rewrite_windowed_distinct_listagg(sql: str) -> str:
    """LISTAGG(DISTINCT x[, sep]) WITHIN GROUP (ORDER BY x) OVER
    (PARTITION BY p): Spark 4's native listagg covers every non-window and
    non-distinct-window form, but refuses DISTINCT as a window function.
    Emulate with an ordered full-frame array_agg window + array_distinct
    (first occurrences arrive in sort order) + array_join. Snowflake
    requires the order key to equal the DISTINCT expression, which is what
    makes the distinct-after-collect order-preserving."""
    out: list[str] = []
    i = 0
    while True:
        m = _LISTAGG_DISTINCT_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        open_paren = sql.index("(", m.start())
        arg_close = _match_paren(sql, open_paren)
        args = _split_top_args(sql[open_paren + 1 : arg_close])
        x = re.sub(r"(?is)^\s*DISTINCT\s+", "", args[0]).strip()
        sep = args[1].strip() if len(args) > 1 else "''"
        wg = _WITHIN_GROUP_RE.match(sql[arg_close + 1 :])
        if not wg:
            out.append(sql[i : arg_close + 1])
            i = arg_close + 1
            continue
        close = _match_paren(sql, arg_close + 1 + wg.group(0).rindex("("))
        order = sql[arg_close + 1 + wg.end() : close].strip()
        ov = re.match(r"\s*OVER\s*\(", sql[close + 1 :], re.I)
        if not ov:  # aggregate form — Spark's native listagg handles it
            out.append(sql[i : close + 1])
            i = close + 1
            continue
        spec_open = close + 1 + ov.end() - 1
        spec_close = _match_paren(sql, spec_open)
        spec = sql[spec_open + 1 : spec_close].strip()
        frame = (
            f"{spec} ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        ).strip()
        out.append(sql[i : m.start()])
        out.append(
            f"array_join(array_distinct(array_agg(CAST(({x}) AS STRING)) "
            f"OVER ({frame})), {sep})"
        )
        i = spec_close + 1
    return "".join(out)


_RATIO_TO_REPORT_RE = re.compile(r"\bRATIO_TO_REPORT\s*\(", re.I)


def _rewrite_ratio_to_report(sql: str) -> str:
    """Snowflake RATIO_TO_REPORT(x) OVER (spec) -> x / SUM(x) OVER (spec)
    (no Spark twin; the OVER clause is paren-matched and duplicated)."""
    out: list[str] = []
    i = 0
    while True:
        m = _RATIO_TO_REPORT_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        arg_close = _match_paren(sql, m.end() - 1)
        x = sql[m.end() : arg_close].strip()
        over = re.match(r"\s*OVER\s*\(", sql[arg_close + 1 :], re.I)
        if not over:
            out.append(sql[i : arg_close + 1])
            i = arg_close + 1
            continue
        spec_open = arg_close + 1 + over.end() - 1
        spec_close = _match_paren(sql, spec_open)
        spec = sql[spec_open + 1 : spec_close]
        out.append(sql[i : m.start()])
        out.append(f"(({x}) / SUM({x}) OVER ({spec}))")
        i = spec_close + 1
    return "".join(out)


def _rewrite_decode(sql: str) -> str:
    """Snowflake DECODE(expr, k1, v1[, k2, v2 ...][, default]) -> CASE with
    null-safe comparison (Snowflake DECODE matches NULL to NULL). Spark's own
    2-arg decode(bin, charset) is left untouched."""

    def rw(args: list[str]) -> str | None:
        if len(args) < 3:
            return None
        expr, rest = args[0].strip(), [a.strip() for a in args[1:]]
        default = None
        if len(rest) % 2 == 1:
            default, rest = rest[-1], rest[:-1]
        whens = "".join(
            f" WHEN ({expr}) IS NOT DISTINCT FROM ({k}) THEN {v}"
            for k, v in zip(rest[::2], rest[1::2])
        )
        tail = f" ELSE {default}" if default is not None else ""
        return f"CASE{whens}{tail} END"

    return _rewrite_calls(sql, "decode", rw)


#: `TABLE(GENERATOR(ROWCOUNT => n))` -> Spark's range(n) TVF; SEQ4()-style
#: row counters become range's `id` column. UNIFORM(a, b, RANDOM()) -> a
#: uniform integer draw (nondeterministic, like the original).
_GENERATOR_RE = re.compile(
    r"\bTABLE\s*\(\s*GENERATOR\s*\(\s*ROWCOUNT\s*=>\s*(\d+)\s*\)\s*\)", re.I
)
_SEQ_RE = re.compile(r"\bSEQ[1248]\s*\(\s*\)", re.I)


def _rewrite_generator(sql: str) -> str:
    if not _GENERATOR_RE.search(sql):
        return sql
    sql = _GENERATOR_RE.sub(lambda m: f"range({m.group(1)})", sql)
    sql = _SEQ_RE.sub("id", sql)
    return _rewrite_calls(
        sql,
        "uniform",
        lambda a: f"(({a[0]}) + CAST(floor(rand() * (({a[1]}) - ({a[0]}) + 1)) AS BIGINT))"
        if len(a) == 3
        else None,
    )


def _unvariant(v: str) -> str:
    """Strip a Snowflake VARIANT wrapper from an expression: `x::VARIANT`,
    `TO_VARIANT(x)`, or the engine-emitted json-element shell the earlier
    TO_VARIANT expansion produces — the array value/element functions take
    VARIANT by Snowflake's signatures, but over Spark's typed arrays the
    raw value is what coerces correctly."""
    v = v.strip()
    m = re.fullmatch(r"(?is)(.*?)\s*::\s*VARIANT", v)
    if m:
        return m.group(1).strip()
    m = re.fullmatch(r"(?is)TO_VARIANT\s*\((.*)\)", v)
    if m and _match_paren(v, v.upper().index("(")) == len(v) - 1:
        return m.group(1).strip()
    probe = "(CASE WHEN ("
    if v.startswith(probe) and "ELSE substr(to_json(array(" in v:
        close = _match_paren(v, len(probe) - 1)
        inner = v[len(probe) : close]
        if v[close:].startswith(") IS NULL THEN NULL ELSE substr(to_json(array("):
            return inner.strip()
    return v


#: keywords after which a '[' or '{' opens a CONSTANT, not a subscript —
#: the previous significant token being a word normally means subscript
#: (col[0]); these words are expression-position openers instead.
_CONST_OPEN_KEYWORDS = frozenset(
    "select when then else and or not in values union intersect except all "
    "by on return returns set as case coalesce if iff".split()
)


def _rewrite_const_literals(sql: str) -> str:
    """Snowflake array/object CONSTANTS -> function form:
    ``[1, 2, [3]]`` -> ``array(1, 2, array(3))`` and
    ``{'a': 1, 'b': x}`` -> ``object_construct('a', 1, 'b', x)``.

    One char scan, string-literal aware. A ``[``/``{`` opens a constant iff
    the previous significant char is an operator/comma/open-paren/another
    constant opener — or ends a keyword like SELECT/THEN — and is a
    subscript/no-op otherwise (``a[0]``, ``v['k']``, ``f(x)[1]``). Object
    keys are string literals by Snowflake's grammar, so the key-value ``:``
    is replaced only when it directly follows a string at the object's own
    nesting level (``::`` casts and colon paths inside VALUES survive).
    """
    res: list[str] = []
    stack: list[dict] = []  # {kind: '['|'{', const: bool, paren: int}
    i, n = 0, len(sql)
    prev_sig = ""  # previous significant (non-space) char
    prev_word = ""  # the word that prev_sig terminates, lowercased
    after_string = False  # previous significant token was a '...' literal
    while i < n:
        c = sql[i]
        if c == "'":  # copy the whole string literal ('' escape)
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            res.append(sql[i : j + 1])
            i = j + 1
            prev_sig, prev_word, after_string = "'", "", True
            continue
        if c == "`":  # backtick identifier (emitted by _dquote_idents)
            j = sql.find("`", i + 1)
            j = n - 1 if j < 0 else j
            res.append(sql[i : j + 1])
            i = j + 1
            prev_sig, prev_word, after_string = "`", "", False
            continue
        if c in "[{":
            is_const = (
                prev_sig == ""
                or prev_sig in "(,=<>+-*/%|&^[{!?:"
                or (
                    prev_sig.isalnum()
                    and prev_word in _CONST_OPEN_KEYWORDS
                )
            ) and not after_string
            if c == "[":
                res.append("array(" if is_const else c)
                stack.append({"kind": "[", "const": is_const, "paren": 0})
            else:
                res.append("object_construct(" if is_const else c)
                stack.append({"kind": "{", "const": is_const, "paren": 0})
            prev_sig, prev_word, after_string = c, "", False
            i += 1
            continue
        if c in "]}":
            frame = stack.pop() if stack else {"const": False}
            res.append(")" if frame.get("const") else c)
            prev_sig, prev_word, after_string = c, "", False
            i += 1
            continue
        if c == "(" and stack:
            stack[-1]["paren"] += 1
        elif c == ")" and stack:
            stack[-1]["paren"] -= 1
        if (
            c == ":"
            and after_string
            and stack
            and stack[-1]["kind"] == "{"
            and stack[-1]["const"]
            and stack[-1]["paren"] == 0
            and not (i + 1 < n and sql[i + 1] == ":")
        ):
            res.append(",")  # object-constant key separator
            prev_sig, prev_word, after_string = ",", "", False
            i += 1
            continue
        res.append(c)
        if c.isalnum() or c in "_$":
            # words accumulate over CONSECUTIVE word chars only (the raw
            # previous char, not prev_sig — '1 THEN' must not read '1then')
            if i > 0 and (sql[i - 1].isalnum() or sql[i - 1] in "_$"):
                prev_word += c.lower()
            else:
                prev_word = c.lower()
        elif not c.isspace():
            prev_word = ""
        if not c.isspace():
            prev_sig = c
            after_string = False
        i += 1
    return "".join(res)


_ORDER_BY_START_RE = re.compile(r"\bORDER\s+BY\b", re.I)
#: keywords that terminate an ORDER BY item list at depth 0 (statement
#: clauses and window frame starts)
_ORDER_BY_END_RE = re.compile(
    r"\b(LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|WINDOW|UNION|EXCEPT|MINUS|INTERSECT)\b",
    re.I,
)
_NULLS_CLAUSE_RE = re.compile(r"\bNULLS\s+(FIRST|LAST)\s*$", re.I)
_DESC_RE = re.compile(r"\bDESC\s*$", re.I)


def _normalize_order_by_nulls(sql: str) -> str:
    """Append Snowflake's default NULL ordering to every ORDER BY sort key
    that lacks an explicit NULLS clause: ASC -> NULLS LAST, DESC -> NULLS
    FIRST. Spark's defaults are the opposite (NULLS FIRST asc / NULLS LAST
    desc), which silently reorders nullable sort keys — visible to any
    LIMIT/top-k query. Scans a literal-masked copy; insertions index the
    original text."""
    spans = [(m.start(), m.end()) for m in _STRING_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked = "".join(masked)
    inserts: list[tuple[int, str]] = []  # (position, text-to-insert)

    def close_item(start: int, end: int) -> None:
        item = masked[start:end]
        if not item.strip() or _NULLS_CLAUSE_RE.search(item.rstrip()):
            return
        pos = start + len(item.rstrip())  # insert before trailing space
        if _DESC_RE.search(item.rstrip()):
            inserts.append((pos, " NULLS FIRST"))
        else:
            inserts.append((pos, " NULLS LAST"))

    i = 0
    while True:
        m = _ORDER_BY_START_RE.search(masked, i)
        if m is None:
            break
        j = m.end()
        depth = 0
        item_start = j
        while j < len(masked):
            c = masked[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break  # closes the enclosing subquery/OVER
                depth -= 1
            elif c == ";" and depth == 0:
                break
            elif c == "," and depth == 0:
                close_item(item_start, j)
                item_start = j + 1
            elif depth == 0 and c.isalpha():
                e = _ORDER_BY_END_RE.match(masked, j)
                if e:
                    break
                # skip the rest of this word so keywords match whole
                while j + 1 < len(masked) and (masked[j + 1].isalnum() or masked[j + 1] == "_"):
                    j += 1
            j += 1
        close_item(item_start, j)
        i = j
    for pos, text in sorted(inserts, reverse=True):
        sql = sql[:pos] + text + sql[pos:]
    return sql


def snowflake_to_spark(sql: str, flatten_coerce_all: bool = False) -> str:
    """One statement of Snowflake-ish SQL -> Spark SQL text.

    ``flatten_coerce_all``: coerce every LATERAL FLATTEN input through the
    VARIANT (JSON-text) decoder — the engine's retry for flattening a bare
    JSON-text column (see rewrite_flatten)."""
    # $$-quoted strings first: their bodies are literals and must be masked
    # from every later rewrite ('' is the only escape in the '-quoted form)
    sql = _DOLLAR_QUOTE_RE.sub(lambda m: "'" + m.group(1).replace("'", "''") + "'", sql)
    if "connect by" in sql.lower():
        sql = rewrite_connect_by(sql)
    sql = _rewrite_generator(sql)
    sql = _TO_DATETIME_RE.sub(_map_to_datetime, sql)
    # Snowflake double-quoted IDENTIFIERS (outside string literals, double
    # quotes are never strings in Snowflake): simple names unquote (Spark
    # resolves case-insensitively, matching the unquoted-UPPER equivalence
    # the reference's identifier matrix tests); anything with special
    # characters becomes a backtick identifier
    def _dquote_idents(chunk: str) -> str:
        def one(m: re.Match) -> str:
            inner = m.group(1).replace('""', '"')
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_$]*", inner):
                return inner
            return "`" + inner.replace("`", "``") + "`"

        return re.sub(r'"((?:[^"]|"")+)"', one, chunk)

    sql = _outside_literals(sql, _dquote_idents)
    # array/object CONSTANT syntax ([1,2] / {'a': 1}) before any function
    # rewrite, so the emitted array()/object_construct() calls flow through
    # the same downstream mappings as their spelled-out forms
    if "[" in sql or "{" in sql:
        sql = _rewrite_const_literals(sql)
    sql = strip_table_wrapper(sql)
    # quantified subquery comparisons (= ANY / > ALL / ...) before any
    # other rewrite — the embedded subquery text then flows through the
    # pipeline like a hand-written one
    if _QUANT_RE.search(sql):
        sql = _rewrite_quantified_comparisons(sql)
    # SPLIT_TO_TABLE(x, d) -> correlated lateral subquery with Snowflake's
    # 1-BASED index column; the emitted SPLIT() flows through the literal-
    # delimiter split rewrite below, so empties and regex chars behave
    sql = _rewrite_calls(
        sql,
        "split_to_table",
        lambda a: (
            f"(SELECT pos + 1 AS index, col AS value FROM "
            f"(SELECT posexplode(SPLIT({a[0]}, {a[1]})) AS (pos, col)))"
        )
        if len(a) == 2
        else None,
    )
    # STRTOK_SPLIT_TO_TABLE(x, delims): the table form of STRTOK — any-char
    # delimiter set, empties dropped. Emits a textual STRTOK_TO_ARRAY call;
    # the shared any-char-split rewrite (later in the chain) supplies the
    # char-class mechanics once.
    sql = _rewrite_calls(
        sql,
        "strtok_split_to_table",
        lambda a: (
            f"(SELECT pos + 1 AS index, col AS value FROM "
            f"(SELECT posexplode(STRTOK_TO_ARRAY({', '.join(a)})) AS (pos, col)))"
        )
        if len(a) in (1, 2)
        else None,
    )
    # TABLE(FLATTEN(...)) — the table-function spelling of LATERAL FLATTEN;
    # normalize to the LATERAL form the flatten rewriter handles.
    # TABLE((SELECT ...)) — a rewritten SPLIT_TO_TABLE — becomes a LATERAL
    # subquery (Snowflake's TABLE(tvf) in FROM is implicitly lateral)
    sql = _rewrite_calls(
        sql,
        "table",
        lambda a: (
            f"LATERAL {a[0].strip()}"
            if len(a) == 1
            and re.match(r"(?is)^\s*(FLATTEN\s*\(|\(\s*SELECT\b)", a[0])
            else None
        ),
    )
    # solo FROM LATERAL (subquery): give it the implied one-row base
    sql = re.sub(
        r"(?i)\bFROM\s+LATERAL\s*\(", "FROM (SELECT 1) __one, LATERAL (", sql
    )
    sql = rewrite_flatten(sql, coerce_all=flatten_coerce_all)
    # solo FROM TABLE(FLATTEN(...)): rewrite_flatten emitted a LATERAL VIEW
    # directly after FROM. Spark's grammar puts LATERAL VIEW after all
    # joins, so a following JOIN would fail to parse — emit the
    # table-valued-function form instead (FROM posexplode(x) AS f(index,
    # value)), which composes with joins like any relation.
    sql = _solo_lateral_view_to_tvf(sql)
    # fallback for any remaining solo LATERAL VIEW (non-explode emitters):
    # synthesize the one-row base relation Snowflake implies
    sql = re.sub(r"(?i)\bFROM\s+LATERAL\s+VIEW\b", "FROM (SELECT 1) LATERAL VIEW", sql)
    sql = rewrite_qualify(sql)
    # IDENTIFIER('name') -> name (Snowflake identifier indirection, §7.3)
    sql = _IDENTIFIER_RE.sub(lambda m: m.group(1), sql)
    # STREAM metadata columns: Spark's parser needs backticks for
    # $-identifiers (metadata$action -> `METADATA$ACTION`)
    sql = _outside_literals(
        sql,
        lambda s: re.sub(
            r"(?<!`)\bMETADATA\$(\w+)", lambda m: f"`METADATA${m.group(1).upper()}`", s,
            flags=re.I,
        ),
    )
    # positional columns: over a VALUES relation Snowflake's $N means the
    # Nth VALUES column (Spark names them colN); everywhere else $N is the
    # headerless-stage convention (_cN-1)
    if re.search(r"(?i)\bFROM\s*\(?\s*VALUES\s*\(", sql):
        sql = _outside_literals(
            sql,
            lambda s: _POSITIONAL_RE.sub(lambda m: f"col{m.group(1)}", s),
        )
    else:
        sql = _outside_literals(sql, _rewrite_positional)
    sql = rewrite_star_modifiers(sql)
    sql = _outside_literals(sql, _rewrite_sample)
    sql = _rewrite_ratio_to_report(sql)
    sql = _rewrite_array_agg_within_group(sql)
    sql = _rewrite_windowed_distinct_listagg(sql)
    sql = _rewrite_decode(sql)
    # the r3 ring runs BEFORE strtok: STRTOK_TO_ARRAY emits an internal
    # regex-char-class split() that the literal-delimiter SPLIT rewrite
    # must never see (it only applies to user-written SPLIT calls)
    sql = _rewrite_top(sql)
    sql = _rewrite_window_events(sql)
    sql = _rewrite_scalar_emulations_r3(sql)
    sql = _rewrite_scalar_emulations_r3b(sql)
    # r4 runs BEFORE strtok (STRTOK emits a textual STRTOK_TO_ARRAY call)
    # and BEFORE the TO_CHAR->string rename (numeric formats claim the
    # 2-arg form first; datetime formats were claimed earlier still)
    sql = _rewrite_scalar_emulations_r4(sql)
    # r5 also runs BEFORE strtok (STRTOK_SPLIT_TO_TABLE emitted a textual
    # STRTOK_TO_ARRAY in the early table-function pass)
    sql = _rewrite_scalar_emulations_r5(sql)
    sql = _rewrite_scalar_emulations_r6(sql)
    sql = _rewrite_strtok_to_array(sql)
    sql = _rewrite_scalar_emulations(sql)
    sql = _outside_literals(sql, _rename_functions)
    sql = _outside_literals(sql, _rename_types)
    sql = _fix_regexp_replace_backrefs(sql)
    # PARSE_JSON(x)::VARIANT — VARIANT was neutralized to STRING above, so the
    # JSON text passes through unchanged (the reference likewise maps
    # VARIANT -> JSON text, duckdb.py:443-444 / snowflake.py:196-198)
    sql = re.sub(r"\bPARSE_JSON\s*\(", "(", sql, flags=re.I)
    # PARSE_XML likewise: XML stays TEXT (XMLGET extracts over it), so the
    # call is an identity wrapper here
    sql = re.sub(r"\bPARSE_XML\s*\(", "(", sql, flags=re.I)
    sql = _tighten_path_colons(sql)  # `v : a` -> `v:a` (whitespace legal)
    sql = _rewrite_colon_paths(sql)  # self-masks literals (lhs may BE one)
    # integer-target casts ROUND in Snowflake (3.5::INT = 4, '1.9'::INT =
    # 2 — DuckDB agrees) where Spark truncates (3) or faults on fractional
    # strings; route through DECIMAL(38,0), whose Spark cast rounds half
    # away from zero. Exact for every BIGINT (38 digits > 2^63); NUMBER/
    # DECIMAL targets already round natively (r8 probe sweep #8).
    sql = _round_integer_casts(sql)
    # LAST: Snowflake's default NULL ordering is the opposite of Spark's
    # (ASC -> NULLS LAST, DESC -> NULLS FIRST; Spark defaults NULLS FIRST
    # asc / NULLS LAST desc), so every sort key without an explicit NULLS
    # clause gets one. Runs after every ORDER-BY-consuming rewrite
    # (WITHIN GROUP, window events, ...) so only real Spark ORDER BYs
    # remain (r8 probe sweep #7).
    sql = _normalize_order_by_nulls(sql)
    return sql
