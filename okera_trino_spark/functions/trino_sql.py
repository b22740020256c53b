"""Trino-SQL *string* front end — the day-one migration surface.

The reference's users submit Trino SQL text and the engine executes it
(reference README.md:74-90 shows the catalog session; views are stored
as Trino SQL, RecordServiceMetadata.java:378-444). The per-function
shims in ``trino_compat.py`` cover the DataFrame path; this module
covers the *string* path: ``execute_trino(spark, sql)`` rewrites the
Trino dialect onto Spark SQL and runs it — so a query that runs against
the reference today runs here unchanged.

Design: a char-level scanner splits the statement into single-quoted
string literals, double-quoted identifiers (Trino identifier quoting →
Spark backticks; Spark would parse ``"x"`` as a string literal),
comments, and code. Literals and comments are masked behind atomic
placeholders while the dialect rewrites run over the full statement —
so a literal like ``'strpos'`` can never be rewritten, yet structural
rewrites still see across literal arguments (``date_add('day', …)``,
``TRY(CAST(x AS t))`` with string args inside) — then restored
verbatim.
Everything compiles to Spark builtins — JVM-side, codegen-friendly,
never a Python UDF — and then Catalyst owns the plan exactly as if the
query had been written in Spark SQL directly.

Coverage (each divergence is tested in tests/test_trino_sql.py):
  - function renames: strpos→instr, approx_distinct→
    approx_count_distinct, json_extract_scalar/json_extract→
    get_json_object, arbitrary→any_value,
    format_datetime→date_format,
    day_of_year/doy→dayofyear, week/week_of_year→weekofyear,
    levenshtein_distance→levenshtein, starts_with/ends_with→
    startswith/endswith, is_nan→isnan, zip→arrays_zip
    (random and to_unixtime are NOT renames: random(n) is a bounded
    integer, to_unixtime keeps the fraction — both rewritten
    structurally)
  - argument-order/structural forms: date_add('unit', n, ts)→
    timestampadd(UNIT, n, ts); date_diff('unit', a, b)→
    timestampdiff(UNIT, a, b); TRY(CAST(x AS t))→TRY_CAST(x AS t);
    day_of_week/dow(x)→(weekday(x)+1) (Trino is ISO Monday=1; Spark's
    dayofweek is Sunday=1, weekday is Monday=0); map_agg(k, v)→
    map_from_entries(collect_list(struct(k, v))); json_parse/
    json_format→identity (JSON is a string in Spark); 1-arg
    from_unixtime→timestamp_seconds (Trino returns a timestamp,
    Spark's own from_unixtime a string)
  - lateral UNNEST family: UNNEST(arr) AS a(c)→LATERAL VIEW explode;
    UNNEST(m) AS t(k, v) map form→explode(map); UNNEST(a, b) AS
    t(x, y) positional zip→inline(arrays_zip(a, b)) (NULL-pads to the
    longest input, same as Trino); WITH ORDINALITY→1-based
    inline(transform(arr, (x, i) -> struct(x, i + 1)))
  - syntax: "ident"→`ident`; FETCH FIRST n ROWS ONLY→LIMIT n;
    CAST(... AS VARCHAR/VARBINARY/DOUBLE PRECISION)→STRING/BINARY/
    DOUBLE; CAST(x AS VARCHAR(n))→substring(CAST(x AS STRING), 1, n)
    (Trino truncates)
  - time zones: expr AT TIME ZONE 'zone' → convert_timezone(
    current_timezone(), zone, expr); TIMESTAMP '... +02:00' zoned
    literals → the UTC instant as TIMESTAMP_NTZ
  - TRY family: TRY(CAST ..)→TRY_CAST, arithmetic expressions (any
    mix of + - * / %, recursively nested by precedence, r8)→
    try_add/try_subtract/try_multiply/try_divide/try_mod, subscripts→
    try_element_at, TRY(date_parse)→try_to_timestamp, TRY(from_base64/
    from_hex)→try_to_binary, TRY(url_decode)→try_url_decode,
    TRY(json_parse)→try_parse_json-validated identity (r8)
  - breadth (waves 7-9): lambda predicates any_match/all_match→
    exists/forall, none_match→NOT exists; contains→array_contains;
    format→format_string; geometric_mean→exp(avg(ln)); infinity/nan
    constants; 2-arg regexp_replace/regexp_split; truncate(x) sign-
    aware; url_extract_* → parse_url (port via authority regex);
    to_utf8/from_utf8 → encode/decode; DECIMAL 'x.y' typed literals →
    inferred-precision CAST; json_value/json_query lax paths →
    get_json_object; at_timezone → convert_timezone; bare
    localtimestamp; NULL-preserving array_agg (+ ORDER BY variant)
  - wave 10: truncate(x, n) decimal-scale trunc (multiply/trunc/divide,
    Trino's own DOUBLE sequence); random(m, n) bounded integers;
    array_agg(DISTINCT x) via array_distinct over the NULL-preserving
    collect (keeps one NULL, as Trino; + ORDER BY x self-key variant —
    array_sort's NULLS LAST/reversed-FIRST matches Trino's defaults)
  - MATCH_RECOGNIZE: not a text rewrite — execute_trino /
    GovernedCatalog.execute lower the restricted subset (PARTITION/
    ORDER/ONE ROW PER MATCH/SKIP PAST LAST ROW/defined-variable
    patterns, measures match_number/classifier/count/first/last/sum/
    avg/min/max) onto the match_recognize operator
    (operators/pattern.py) and splice the result into the statement
  - wave 15 (r8): histogram→map over a lambda-bound collect;
    multimap_agg→grouped entry map; hamming_distance (length-guarded
    position compare); 2-arg bit_count (bits-wide two's complement
    with Trino's representability check); ngrams (whole-array n-gram
    when n ≥ cardinality); json_array_contains with literal search
    values (type drives the decode); array-form cosine_similarity;
    combinations (n = 1..3, index-lexicographic); reduce_agg →
    sequential fold of the collected inputs (commutative/associative
    by Trino contract); FROM UNNEST and comma-lateral UNNEST
    spellings (join the CROSS JOIN form's lowering); named errors for
    numeric_histogram (order-dependent streaming sketch),
    combinations n > 3, and the map-vector cosine form
  - wave 16 (r8): string literals restore with backslashes DOUBLED —
    Trino literals have no escape character, Spark's parser eats one
    layer, so '\\d' now reaches the regex engine intact (previously a
    silent mistranslation of every backslash); 2-arg regexp_extract_all
    → group 0 (Spark defaults to group 1); to_base/from_base → signed
    lowercase conv; strpos(s, sub, n) occurrence instances (filtered
    index sequence, negative n from the end); regexp_position →
    regexp_instr with the -1 miss convention (start = suffix
    re-offset; occurrence = matcher.find() replay fold, r9);
    parse_duration (literal)
    → make_dt_interval; to_milliseconds → DAY-TO-SECOND-normalized
    DECIMAL cast; to_iso8601 (typeof-dispatched DATE/timestamp forms);
    timezone_hour/timezone_minute (session-zone offset at the
    instant); with_timezone → UTC-instant convert_timezone;
    from/to_big_endian_64 via signed conv/hex; wilson_interval_lower/
    _upper arithmetic; human_readable_seconds (week→second parts,
    pluralized, ', '-joined); md5/sha1 → unhex'd VARBINARY like
    sha256; xxhash64 → the session-registered trino_xxhash64 pandas
    UDF (r9 — seed-0 XXH64 as little-endian VARBINARY, bit-verified
    against Spark's seed-42 builtin); format_number → unit-suffix
    K/M/B/T/Q rendering with DecimalFormat precision-by-magnitude
    (r9); word_stem → the session-registered trino_word_stem pandas
    UDF (r10 — Porter2/Snowball english from the public spec;
    non-english language codes stay named errors); murmur3 → the
    trino_murmur3 pandas UDF (r10 — x64_128 seed 0,
    smhasher-verification bit-verified); spooky_hash_v2_32/64 → the
    trino_spooky32/64 pandas UDFs (r12 — Jenkins SpookyHash V2 seed 0,
    big-endian result bytes, smhasher Spooky64 0x972C4BDC verified)
  - wave 17 (r8): chr → the Unicode CODEPOINT character (Spark's char
    wraps at 256 — a silent mistranslation until now): literal
    codepoints embed the exact character via the stash, column-driven
    ones lower to UTF-8 byte arithmetic + decode (codegen, BMP +
    astral verified); normalize(s[, NFC|NFD|NFKC|NFKD]) → the
    session-registered Arrow-batched trino_normalize UDF
    (trino_compat.register_unicode_normalize — Spark SQL has no
    normalizer builtin); approx_most_frequent → the EXACT top-buckets
    value→count map (count DESC, value ASC tie-break — exact satisfies
    every sketch error bound, deterministically; the capacity knob is
    moot on an exact computation); named errors for invalid codepoints
    (surrogates, > U+10FFFF), non-standard normalization forms, and
    non-literal bucket counts
  - wave 18 (r8): LISTAGG(e[, sep]) WITHIN GROUP (ORDER BY …)
    (SQL:2016) → sorted collect_list struct fold with the value as the
    final tie-break (partition order can never leak) and NULLs dropped
    like Trino; ON OVERFLOW ERROR stripped (the default, unreachable —
    no string cap on Spark), TRUNCATE / DESC / NULLS FIRST|LAST keys
    refused by name; luhn_check → codegen mod-10 fold, NULL-safe,
    raising on non-digit input like Trino
  - wave 19 (r8, divergence audit): skewness/kurtosis — Trino computes
    the SAMPLE-adjusted (bias-corrected) statistics, Spark's
    same-named aggregates are the POPULATION formulas (verified: n=6
    gives 1.0952 vs Trino's 1.4997) — lowered to one-pass power sums
    with the central moments let-bound per group; NULL below the
    defined n and on constant groups (both engines' convention)
  - wave 20 (r8): entropy(count) → the one-pass log2 fold
    log2(S) − Σ(c·log2 c)/S (zero counts contribute 0, negative
    counts poison to NaN where Trino raises); 3-arg max_by/min_by →
    sorted collect_list slice (NULL keys dropped like Trino,
    deterministic value tie-break where Trino leaves ties arbitrary);
    named error for checksum (order-insensitive xxhash64 sketch —
    engine-specific values); 2-arg trim/ltrim/rtrim — Spark's forms
    take (trimStr, string), REVERSED from Trino's (string, chars) —
    lowered to the unambiguous TRIM(BOTH|LEADING|TRAILING … FROM …)
    (was a silent wrong-value pass-through); split_part past the last
    field → NULL like Trino (Spark's builtin returns '' — lowered to
    try_element_at over a literal-escaped split, real empty fields
    keep ''); element_at with an over-length array index → NULL like
    Trino (Spark ANSI raises — try_element_at matches every edge:
    missing map key NULL, index 0 error); array_min/array_max → NULL
    when the array CONTAINS a null element like Trino (Spark skips
    nulls — silently different values); map_concat → LAST map's value
    wins on duplicate keys like Trino (earlier maps filtered to their
    unique keys; Spark's default dedup policy errors, and flipping it
    session-wide would also relax map()/map_from_entries, where both
    engines correctly reject duplicates); ln/log2/log10 of
    non-positive input → Java Math.log's IEEE values like Trino
    (ln(0) = -Infinity, ln(negative) = NaN; Spark returned NULL —
    sqrt/acos/power/exp already agree on specials); 2-arg log(b, x) →
    the same-wrapped ln(x)/ln(b). KNOWN DIVERGENCE left in place:
    DOUBLE division (and %) by zero — Trino yields IEEE ±Infinity/NaN
    for floating operands while Spark's ANSI mode raises for every
    numeric type; a text rewriter cannot type-dispatch `/`, and
    wrapping all division would also break the integer-/-by-zero
    ERROR parity the two engines share; parse_datetime hardened — Joda-only
    pattern letters (Z/z zones, x/w week fields) now refuse by name
    instead of passing through to Java re-interpretation; grammar
    edges: count-less FETCH FIRST ROW ONLY → LIMIT 1, U&'…' Unicode
    literals decoded to ordinary literals before masking (UESCAPE
    refused), named errors for FETCH … WITH TIES (a LIMIT rewrite
    would DROP tied rows) and BETWEEN SYMMETRIC (Spark parse error
    otherwise)
  - wave 14 (r8, divergence audit): repeat(element, n)→array_repeat
    (Trino's repeat builds an ARRAY; Spark's same-named repeat is
    string repetition — a silent mistranslation if passed through);
    greatest/least→NULL-strict CASE (Trino returns NULL when ANY
    argument is NULL, Spark skips NULLs); EXTRACT(DOW/DAY_OF_WEEK)→
    DOW_ISO (Trino is ISO Monday=1, Spark's DOW Sunday=1) +
    YOW/long-form field spellings; bitwise_and_agg/
    bitwise_or_agg→bit_and/bit_or; literal integer division 7/2→
    (7 div 2) (Trino truncates; Spark's / is double — column-operand
    division keeps Spark's double semantics, the one documented value
    divergence: write `a div b` where integer-column division is
    intended)
  - wave 13 (r8): reduce→aggregate (4-arg, argument-for-argument);
    last_day_of_month→last_day; bitwise shifts (Trino's plain right
    shift is logical→shiftrightunsigned, _arithmetic→shiftright);
    split_to_map→str_to_map with literal-delimiter regex escaping;
    from_iso8601_timestamp/date→ISO casts (offset inputs resolve to
    the session-zone instant — same instant, NTZ rendering);
    parse_datetime with a literal Joda pattern (y/M/d/H/m/s core =
    Java time)→to_timestamp; json_size→member counts via
    json_array_length/json_object_keys, 0 for scalars
  - wave 12 (r8): CAST(.. AS ROW(a T, ..)) named-row types →
    STRUCT<a: T', ..> recursively (both engines cast row fields by
    position); ARRAY(T)/MAP(K, V) type spellings inside casts
  - wave 21 (r9): json_query → VARIANT lowering (exact JSON item
    text, KEEP QUOTES); single-[*] wildcard chains via
    ARRAY<VARIANT>; WITHOUT / WITH [UNCONDITIONAL] / WITH CONDITIONAL
    ARRAY WRAPPER all exact; FETCH FIRST n ROWS WITH TIES → rank()
  - wave 22 (r10): compound ?(...) filter predicates (&&/|| of typed
    comparisons under K3 logic) + the .size() item method (filter and
    terminal forms); listagg(DISTINCT …) via array_distinct before
    the sorted fold; word_stem → Porter2 UDF; non-literal
    parse_duration via codegen regexp; mixed literal-prefix division
    chains fold ((7 div 2)/x)
  - waves 23-24 (r10, the unresolved-routine audit closeout):
    to/from_base32 (RFC 4648 §6 UDFs, RFC-vector-verified),
    split_to_multimap + multimap_from_entries (shared HOF grouping),
    is_finite/is_infinite, year_of_week/yow, millisecond,
    to/from_big_endian_32, to/from_base64url (alphabet translation),
    hmac_md5/sha1/sha256/sha512 (RFC 2104 UDFs),
    to/from_ieee754_64/32 (exact bit layout), normal_cdf/
    inverse_normal_cdf/beta_cdf/inverse_beta_cdf (erfc / Lentz CF /
    Acklam — independent-math oracles); map_union (deterministic
    smallest-entry-per-key instantiation of Trino's arbitrary
    winner), max(x, n)/min(x, n) top/bottom-n aggregates, index,
    char2hexint (UTF-16BE hex); approx_set/merge/cardinality → the
    DataSketches HLL builtins (engine-specific sketch bytes —
    approx_distinct-class divergence); qdigest/tdigest named errors
  - wave 25 (r10): full ?(...) predicate grammar — parenthesized
    sub-predicates, !(...) negation, exists(@.chain) — via recursive
    descent over the SQL/JSON predicate grammar (K3 = Spark NULL
    logic for every connective); json_value gains the VARIANT
    scalar-ness guard (array/object items → NULL ON ERROR, fixing a
    silent get_json_object text passthrough) and one-[*]+filter
    chains (exactly-one-item rule); json_exists lands (plain and
    wildcard/filter paths, FALSE ON ERROR default, JSON-null items
    exist); lax [*] auto-wraps non-array heads in all three;
    multi-[*] chains flatten per-step in document order; the
    .double() item method (filter + json_query terminal — conversion
    errors null the whole result, unlike structural misses)
  - unsupported-with-clear-error: TRY(expr) beyond the forms above,
    non-literal split()/date-format patterns, non-literal AT TIME ZONE
    zones, JSON paths with numeric item methods/multiple wildcards
    (json_value plain member chains lower to get_json_object, r7;
    json_query chains + one [*] + comparison filters lower via
    VARIANT, r9-r10; CAST(.. AS JSON) serializes via to_json, r7),
    ROW(..) types with unnamed fields,
    array_agg(DISTINCT x ORDER BY y) with y != x,
    MATCH_RECOGNIZE beyond the subset, and unnest arg/column-count
    mismatches raise TrinoSqlUnsupported naming the construct, never
    silently mis-translate.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from okera_trino_spark.session import local_frame
from okera_trino_spark.sources.catalog import register_tables


class TrinoSqlUnsupported(Exception):
    """A Trino construct this rewriter refuses to guess at."""


# ---------------------------------------------------------------- scanner

def _segments(sql: str):
    """Yield (kind, text) with kind in {code, string, ident, comment}.

    Trino lexing rules: strings are single-quoted with '' escape;
    identifiers are double-quoted with "" escape; -- line and /* */
    block comments.
    """
    i, n = 0, len(sql)
    code_start = i
    while i < n:
        c = sql[i]
        if c == "'":
            if code_start < i:
                yield ("code", sql[code_start:i])
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            yield ("string", sql[i:j + 1])
            i = j + 1
            code_start = i
        elif c == '"':
            if code_start < i:
                yield ("code", sql[code_start:i])
            j = i + 1
            while j < n:
                if sql[j] == '"' and j + 1 < n and sql[j + 1] == '"':
                    j += 2
                elif sql[j] == '"':
                    break
                else:
                    j += 1
            yield ("ident", sql[i:j + 1])
            i = j + 1
            code_start = i
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            if code_start < i:
                yield ("code", sql[code_start:i])
            j = sql.find("\n", i)
            j = n if j < 0 else j
            yield ("comment", sql[i:j])
            i = j
            code_start = i
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            if code_start < i:
                yield ("code", sql[code_start:i])
            j = sql.find("*/", i + 2)
            j = n - 2 if j < 0 else j
            yield ("comment", sql[i:j + 2])
            i = j + 2
            code_start = i
        else:
            i += 1
    if code_start < n:
        yield ("code", sql[code_start:n])


def _find_close(s: str, open_idx: int) -> int:
    """Index of the ')' matching s[open_idx] == '(' — runs on MASKED
    text, where string literals are atomic placeholders with no parens."""
    depth, j, n = 0, open_idx, len(s)
    while j < n:
        c = s[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    raise TrinoSqlUnsupported(f"unbalanced parentheses after offset {open_idx}")


# ------------------------------------------------------------- rewrites

#: Pure renames: same arity, same argument order, same semantics.
_RENAMES = {
    "strpos": "instr",
    "approx_distinct": "approx_count_distinct",
    "json_extract_scalar": "get_json_object",
    "json_extract": "get_json_object",
    "arbitrary": "any_value",
    "format_datetime": "date_format",
    "day_of_year": "dayofyear",
    "doy": "dayofyear",
    "week_of_year": "weekofyear",
    "week": "weekofyear",
    "day_of_month": "dayofmonth",
    "codepoint": "ascii",
    # chr is NOT a rename: Spark's char(n) wraps at 256 (chr(8364)
    # silently becomes a control byte) — wave 17 rewrites it
    # structurally to the exact Unicode codepoint character.
    "to_hex": "hex",
    "from_hex": "unhex",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "levenshtein_distance": "levenshtein",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "is_nan": "isnan",
    # Trino zip(a, b, …) → array<row>; Spark arrays_zip pads with NULL
    # to the longest input exactly like Trino.
    "zip": "arrays_zip",
    # Lambda predicates: Trino any_match/all_match → Spark exists/forall
    # (none_match is structural: NOT exists). Trino's contains is
    # array-membership (string search is strpos there), so the rename to
    # array_contains is always type-correct for Trino input.
    "any_match": "exists",
    "all_match": "forall",
    "contains": "array_contains",
    # Trino format() is printf-style (Java String.format), same as
    # Spark's format_string.
    "format": "format_string",
    # wave 13 (r8). reduce(arr, init, merge, finish) is Spark's own
    # 4-arg aggregate, argument for argument.
    "reduce": "aggregate",
    "last_day_of_month": "last_day",
    # wave 14 (r8): Trino's repeat(element, count) builds an ARRAY;
    # Spark's same-named repeat is string repetition — a silent
    # mistranslation if passed through. Trino string repetition does
    # not exist as repeat (users write concat over arrays), so the
    # rename is always correct for Trino input.
    "repeat": "array_repeat",
    "bitwise_and_agg": "bit_and",
    "bitwise_or_agg": "bit_or",
    # Bit shifts: Trino's plain right shift is LOGICAL (zero-fill);
    # Spark's shiftright is arithmetic, shiftrightunsigned logical.
    "bitwise_left_shift": "shiftleft",
    "bitwise_right_shift": "shiftrightunsigned",
    "bitwise_right_shift_arithmetic": "shiftright",
}

_RENAME_RE = re.compile(
    r"\b(" + "|".join(sorted(_RENAMES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE)

# date_add('day', 3, ts) → timestampadd(DAY, 3, ts); date_diff likewise.
# Matches the MASKED form: the unit literal is a placeholder whose index
# resolves through the stash.
_DATE_ARITH_RE = re.compile(
    r"\b(date_add|date_diff)\s*\(\s*'\x00(\d+)\x00'\s*,", re.IGNORECASE)

#: Bare type renames only — the length-carrying CAST(x AS VARCHAR(n))
#: form is rewritten structurally (Trino truncates to n chars; the
#: faithful Spark form is substring(CAST(x AS STRING), 1, n)) before
#: this regex runs, so no length form can reach it.
_CAST_TYPE_RE = re.compile(
    r"\bAS\s+(VARCHAR|VARBINARY|DOUBLE\s+PRECISION)\b(?!\s*\()",
    re.IGNORECASE)
_CAST_TYPE_MAP = {"VARCHAR": "STRING", "VARBINARY": "BINARY",
                  "DOUBLE PRECISION": "DOUBLE"}


def _trino_type_to_spark(t: str) -> str:
    """Trino type text → Spark type text, recursively (r8): named
    ``ROW(a T, b U)`` → ``STRUCT<a: T', b: U'>`` (Trino casts row
    fields positionally; so does Spark's struct cast), ``ARRAY(T)`` →
    ``ARRAY<T'>``, ``MAP(K, V)`` → ``MAP<K', V'>``, scalars through
    the same rename table the flat CAST path uses. Unnamed ROW fields
    are refused — Spark struct types require field names, and
    inventing them would change the result schema."""
    t = t.strip()
    rm = re.match(r"ROW\s*\(", t, re.IGNORECASE)
    if rm and _find_close(t, rm.end() - 1) == len(t) - 1:
        parts = []
        for f in _split_top_level(t[rm.end():-1]):
            fm = re.match(r"\s*([A-Za-z_]\w*|`[^`]+`)\s+(.+)$",
                          f.strip(), re.DOTALL)
            if not fm or fm.group(1).upper() in (
                    "ROW", "ARRAY", "MAP", "DOUBLE"):
                raise TrinoSqlUnsupported(
                    "ROW(...) cast type with unnamed fields — Spark "
                    "struct types need field names; name each field "
                    "(ROW(a INTEGER, b VARCHAR))")
            parts.append(f"{fm.group(1)}: {_trino_type_to_spark(fm.group(2))}")
        return "STRUCT<" + ", ".join(parts) + ">"
    am = re.match(r"ARRAY\s*\(", t, re.IGNORECASE)
    if am and _find_close(t, am.end() - 1) == len(t) - 1:
        return "ARRAY<" + _trino_type_to_spark(t[am.end():-1]) + ">"
    mm = re.match(r"MAP\s*\(", t, re.IGNORECASE)
    if mm and _find_close(t, mm.end() - 1) == len(t) - 1:
        kv = _split_top_level(t[mm.end():-1])
        if len(kv) != 2:
            raise TrinoSqlUnsupported(f"MAP type needs (K, V): {t!r}")
        return ("MAP<" + _trino_type_to_spark(kv[0]) + ", "
                + _trino_type_to_spark(kv[1]) + ">")
    up = re.sub(r"\s+", " ", t.upper())
    base = re.sub(r"\s*\(.*\)$", "", up)
    if base in _CAST_TYPE_MAP:
        # VARCHAR(n) inside a nested type loses its length bound (no
        # truncation expression is possible in a type position) — the
        # flat CAST(x AS VARCHAR(n)) path keeps Trino's truncation.
        return _CAST_TYPE_MAP[base]
    return t

#: CAST(x AS VARCHAR(n)) / TRY_CAST(...) — Trino truncates the string
#: to n characters; matched against a single CAST argument.
_CAST_VARCHAR_N_RE = re.compile(
    r"^(.*\S)\s+AS\s+VARCHAR\s*\(\s*(\d+)\s*\)$",
    re.IGNORECASE | re.DOTALL)

_FETCH_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+\s+)?ROWS?\s+ONLY\b", re.IGNORECASE)
#: FETCH … WITH TIES keeps every row tying the cutoff's sort key.
#: The statement-tail form with a depth-0 ORDER BY rewrites to a
#: rank() <= n filter (r9); other placements refuse by name (a LIMIT n
#: rewrite would silently DROP the tied rows).
_FETCH_TIES_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+WITH\s+TIES\b",
    re.IGNORECASE)

_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)

#: json_query second argument: literal-path placeholder + optional
#: ARRAY WRAPPER clause (r9). QUOTES / ON EMPTY / ON ERROR clauses
#: don't match and refuse by name.
_JSON_ARG_WRAPPER_RE = re.compile(
    r"^(?P<ph>'\x00\d+\x00')\s*"
    r"(?:WITHOUT\s+ARRAY\s+WRAPPER|"
    r"(?P<wrap>WITH\s+(?:(?P<cond>CONDITIONAL)\s+|UNCONDITIONAL\s+)?"
    r"ARRAY\s+WRAPPER))?\s*$",
    re.IGNORECASE)


def _depth0_spans(code: str, rx: re.Pattern) -> list[re.Match]:
    """Matches of ``rx`` at paren/bracket depth 0 of masked text."""
    depths, d = [], 0
    for c in code:
        depths.append(d)
        if c in "([":
            d += 1
        elif c in ")]":
            d -= 1
    return [m for m in rx.finditer(code) if depths[m.start()] == 0]


_SETOP_RE = re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)


def _select_alias_map(select_list: str) -> dict[str, str]:
    """Output-column name → defining expression for a select list
    (``expr AS name`` and bare-identifier items)."""
    amap: dict[str, str] = {}
    for item in _split_top_level(select_list):
        item = item.strip()
        m = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
        if m:
            amap[m.group(1).lower()] = item[: m.start()].strip()
        elif re.fullmatch(r"[\w.]+", item):
            amap[item.split(".")[-1].lower()] = item
    return amap


def _rewrite_fetch_ties(code: str) -> str:
    """``ORDER BY k FETCH FIRST n ROWS WITH TIES`` at statement tail →
    ``rank() OVER (ORDER BY k) <= n`` — Trino keeps every row tying
    the n-th row's sort key, which is exactly rank's gap semantics.

    For a plain depth-0 ``SELECT … FROM …`` the rank is injected INTO
    the select list so sort keys may reference base-table columns not
    in the output (Trino allows that); keys naming a select ALIAS are
    substituted with the alias's defining expression inside the window
    spec (a window cannot see lateral aliases), while the final ORDER
    BY sorts by the rank itself — identical order, and it resolves
    even when the sort key is not an output column (Spark's sort sees
    pre-EXCEPT columns). DISTINCT / set-op / WITH bodies
    wrap as a derived table instead (sort keys must then be output
    columns — Trino's own rule for DISTINCT). The rank column is
    dropped with ``* EXCEPT`` so the output schema is unchanged.
    TIES without ORDER BY raises — Trino rejects it too."""
    ties = _depth0_spans(code, _FETCH_TIES_RE)
    if not ties:
        return code
    m = ties[-1]
    if len(ties) > 1 or code[m.end():].strip():
        raise TrinoSqlUnsupported(
            "FETCH … WITH TIES is only supported as the statement's "
            "final clause — rewrite inner uses as rank() <= n")
    obs = [o for o in _depth0_spans(code, _ORDER_BY_RE)
           if o.end() <= m.start()]
    if not obs:
        raise TrinoSqlUnsupported(
            "FETCH … WITH TIES requires ORDER BY (Trino rejects the "
            "un-ordered form too)")
    ob = obs[-1]
    ord_keys = code[ob.end():m.start()].strip()
    om = re.search(r"\bOFFSET\s+\d+(\s+ROWS?)?\s*$", ord_keys,
                   re.IGNORECASE)
    if om:
        # Valid Trino (OFFSET before FETCH) but the span between ORDER
        # BY and FETCH is the window's sort-key text — an OFFSET there
        # would be injected into the window spec. rank() <= n + skip
        # is NOT the semantics either (ties expand around the cutoff,
        # not the offset), so refuse by name rather than mis-rank.
        raise TrinoSqlUnsupported(
            "OFFSET combined with FETCH … WITH TIES — apply the "
            "offset in an outer query around the rank() <= n form")
    if any(re.fullmatch(r"\d+", k.strip())
           for k in _split_top_level(ord_keys)):
        raise TrinoSqlUnsupported(
            "FETCH … WITH TIES with an ordinal ORDER BY key — name "
            "the sort column instead")
    n = m.group(1) or "1"
    body = code[:ob.start()].strip()

    simple = (re.match(r"^SELECT\s", body, re.IGNORECASE)
              and not re.match(r"^SELECT\s+DISTINCT\b", body, re.IGNORECASE)
              and not _depth0_spans(body, _SETOP_RE))
    if simple:
        froms = _depth0_spans(body, _FROM_RE)
        if froms:
            sel_list = body[6:froms[0].start()].strip()
            amap = _select_alias_map(sel_list)
            def _sub_alias(t, _keys=ord_keys):
                # qualified names never alias-substitute: in t.od the
                # token od is a column of t (substituting would emit
                # t.(expr)), and the qualifier t is not an output alias
                w = t.group(0)
                before = _keys[: t.start()].rstrip()
                after = _keys[t.end():].lstrip()
                if before.endswith(".") or after.startswith("."):
                    return w
                if (w.lower() in amap
                        and not re.fullmatch(r"(?i)ASC|DESC|NULLS|FIRST|LAST",
                                             w)):
                    return f"({amap[w.lower()]})"
                return w
            win_keys = re.sub(r"\b\w+\b", _sub_alias, ord_keys)
            inner = (f"SELECT {sel_list}, rank() OVER (ORDER BY "
                     f"{win_keys}) AS __tie_rnk {body[froms[0].start():]}")
            return (f"SELECT * EXCEPT(__tie_rnk) FROM ({inner}) "
                    f"__tie_ranked WHERE __tie_rnk <= {n} "
                    f"ORDER BY __tie_rnk")
    return (f"SELECT * EXCEPT(__tie_rnk) FROM (SELECT *, rank() OVER "
            f"(ORDER BY {ord_keys}) AS __tie_rnk FROM ({body}) "
            f"__tie_base) __tie_ranked WHERE __tie_rnk <= {n} "
            f"ORDER BY __tie_rnk")

#: Trino TABLESAMPLE BERNOULLI(p) → Spark TABLESAMPLE (p PERCENT)
#: (row-level Bernoulli in both engines). SYSTEM(p) is block sampling
#: in Trino; Spark's PERCENT form is the closest semantic (per-row) —
#: still a sound sample, so it maps rather than errors.
_TABLESAMPLE_RE = re.compile(
    r"\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(\s*([0-9.]+)\s*\)",
    re.IGNORECASE)

_DOW_RE = re.compile(r"\b(day_of_week|dow)\s*\(", re.IGNORECASE)

#: Trino EXTRACT field → Spark field with identical semantics. DOW is
#: the load-bearing entry (Trino ISO Monday=1 vs Spark Sunday=1).
_EXTRACT_FIELD_MAP = {
    "DOW": "DOW_ISO", "DAY_OF_WEEK": "DOW_ISO",
    "YOW": "YEAROFWEEK", "YEAR_OF_WEEK": "YEAROFWEEK",
    "DAY_OF_MONTH": "DAY", "DAY_OF_YEAR": "DOY",
    "WEEK_OF_YEAR": "WEEK",
}
_TRY_RE = re.compile(r"\bTRY\s*\(", re.IGNORECASE)
_UNNEST_RE = re.compile(
    r"\bCROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE)
_FROM_UNNEST_RE = re.compile(
    r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)
_UNNEST_TAIL_RE = re.compile(
    r"\s*(WITH\s+ORDINALITY\s+)?AS\s+(\w+)\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)",
    re.IGNORECASE)


_BETWEEN_SYM_RE = re.compile(r"\bBETWEEN\s+SYMMETRIC\b", re.IGNORECASE)

# Tokens that terminate a BETWEEN bound at depth 0: the grammar's
# lower-precedence connectives and clause heads. A bound can only
# contain these inside parentheses or a CASE … END (tracked).
_SYM_TERMINATORS = frozenset({
    "AND", "OR", "THEN", "ELSE", "WHEN", "END", "ORDER", "GROUP",
    "HAVING", "LIMIT", "OFFSET", "FETCH", "WINDOW", "UNION",
    "INTERSECT", "EXCEPT", "FROM", "WHERE", "JOIN", "ON", "USING",
    "ASC", "DESC", "NULLS", "AS", "IS", "NOT", "IN", "LIKE", "BETWEEN",
})

_SYM_WORD_RE = re.compile(r"[A-Za-z_]\w*")


def _scan_bound(code: str, i: int) -> int:
    """End index of the value expression starting at ``i``: the first
    depth-0 terminator keyword, comma, or unbalanced closer. Paren /
    bracket depth and CASE…END nesting are tracked so a bound like
    ``CASE WHEN a AND b THEN 1 ELSE 2 END`` stays whole."""
    depth = case_depth = 0
    n = len(code)
    j = i
    while j < n:
        ch = code[j]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            if depth == 0:
                return j
            depth -= 1
        elif ch == "," and depth == 0 and case_depth == 0:
            return j
        else:
            m = _SYM_WORD_RE.match(code, j)
            if m:
                w = m.group(0).upper()
                if w == "CASE":
                    case_depth += 1
                elif w == "END" and case_depth > 0:
                    case_depth -= 1
                elif (depth == 0 and case_depth == 0
                      and w in _SYM_TERMINATORS):
                    return j
                j = m.end()
                continue
        j += 1
    return n


def _rewrite_between_symmetric(code: str) -> str:
    """``x [NOT] BETWEEN SYMMETRIC a AND b`` (SQL:2016; Trino parses
    it, Spark does not) → ``BETWEEN lo AND hi`` where both bounds are
    NULL-guarded ``least``/``greatest``: the standard defines
    SYMMETRIC as the two-way disjunction, which for non-null operands
    equals [min(a,b), max(a,b)], and is UNKNOWN whenever either bound
    is NULL (the disjunct that would decide always contains an
    UNKNOWN comparison). Spark's least/greatest SKIP nulls — passing
    them bare would turn a NULL bound into a one-sided check — so
    each bound collapses to NULL when either operand is. The operand
    ``x`` is untouched: only the two bounds are rewritten, so no
    left-context parsing is needed. NOT distributes over the rewrite
    unchanged."""
    for m in reversed(list(_BETWEEN_SYM_RE.finditer(code))):
        a_start = m.end()
        a_end = _scan_bound(code, a_start)
        if not re.match(r"\s*AND\b", code[a_end:], re.IGNORECASE):
            raise TrinoSqlUnsupported(
                "BETWEEN SYMMETRIC: could not find the bound "
                "separator AND — parenthesize the bounds")
        b_start = a_end + len(re.match(r"\s*AND\b", code[a_end:],
                                       re.IGNORECASE).group(0))
        b_end = _scan_bound(code, b_start)
        a = code[a_start:a_end].strip()
        b = code[b_start:b_end].strip()
        if not a or not b:
            raise TrinoSqlUnsupported(
                "BETWEEN SYMMETRIC: empty bound expression")
        guard = f"WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL"
        new = (f"BETWEEN (CASE {guard} ELSE least(({a}), ({b})) END) "
               f"AND (CASE {guard} ELSE greatest(({a}), ({b})) END)")
        code = code[:m.start()] + new + code[b_end:]
    return code


def _rewrite_dow(code: str) -> str:
    """day_of_week(x) / dow(x) → (weekday(x) + 1) — ISO Monday=1."""
    while True:
        m = _DOW_RE.search(code)
        if not m:
            return code
        open_idx = m.end() - 1
        close = _find_close(code, open_idx)
        inner = code[open_idx + 1:close]
        code = (code[:m.start()] + f"(weekday({inner}) + 1)"
                + code[close + 1:])


_TRY_ARITH_FN = {"/": "try_divide", "+": "try_add",
                 "-": "try_subtract", "*": "try_multiply",
                 "%": "try_mod"}


_TRY_NON_ARITH_RE = re.compile(
    r"[<>=!]|\b(AND|OR|NOT|BETWEEN|IN|IS|CASE|LIKE)\b", re.IGNORECASE)


def _try_arith_lower(s: str) -> str | None:
    """Recursively lower an arithmetic expression to nested ``try_*``
    calls (r8: any mix of + - * / %, not just one operator). Splitting
    at the RIGHTMOST lowest-precedence depth-0 operator reproduces
    left-associative precedence (``a - b - c`` → try_subtract(
    try_subtract(a, b), c)); NULL propagation makes nesting faithful —
    an inner overflow/div-zero yields NULL, which flows to the top
    exactly as Trino's TRY returns NULL for the whole expression.
    Returns None when ``s`` has no depth-0 arithmetic operator.
    Comparison/boolean operators bind looser than arithmetic, so their
    presence at depth 0 refuses (splitting there would mis-associate).
    """
    t = s.strip()
    while t.startswith("(") and _find_close(t, 0) == len(t) - 1:
        t = t[1:-1].strip()
    add_idx = mul_idx = None
    depth = 0
    for i, c in enumerate(t):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c in "/+-*%":
            prev = t[:i].rstrip()
            if c == "-" and (not prev or prev[-1] in "/+-*%(,<>="):
                continue  # unary minus
            if c == "-" and i + 1 < len(t) and t[i + 1] == ">":
                continue  # lambda arrow
            if c in "+-" and re.search(r"(?<![\w.])\d+(?:\.\d*)?[eE]$",
                                       prev):
                continue  # scientific-notation exponent sign (1e-5)
            if c in "+-":
                add_idx = i
            else:
                mul_idx = i
    idx = add_idx if add_idx is not None else mul_idx
    if idx is None:
        return None
    # depth-0 comparison/boolean context → arithmetic is not the
    # outermost operator; refuse rather than mis-nest.
    probe = depth = 0
    for i, c in enumerate(t):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            probe += bool(_TRY_NON_ARITH_RE.match(t, i))
    if probe:
        raise TrinoSqlUnsupported(
            "TRY over a comparison/boolean expression — apply TRY to "
            "the arithmetic operand instead (TRY(a + b) > c)")
    op = t[idx]
    lhs, rhs = t[:idx].strip(), t[idx + 1:].strip()
    lo = _try_arith_lower(lhs) or lhs
    ro = _try_arith_lower(rhs) or rhs
    return f"{_TRY_ARITH_FN[op]}({lo}, {ro})"


#: Single-call TRY targets with a native Spark ``try_`` twin —
#: call-name (as seen when _rewrite_try runs: subscripts are already
#: element_at, Trino spellings otherwise since renames run later) →
#: replacement builder over the raw argument text. Each twin has
#: IDENTICAL valid-input semantics to the plain rewrite and returns
#: NULL exactly where Trino's TRY catches the error (r8 wave).
_TRY_CALL_TWINS = {
    "element_at": lambda b: f"try_element_at({b})",
    "__subscript_at": lambda b: f"try_element_at({b})",
    "to_timestamp": lambda b: f"try_to_timestamp({b})",
    "from_base64": lambda b: f"try_to_binary({b}, 'base64')",
    "from_hex": lambda b: f"try_to_binary({b}, 'hex')",
    "url_decode": lambda b: f"try_url_decode({b})",
}


def _rewrite_try(code: str, stash: list[str]) -> str:
    """Trino TRY(expr) → the Spark ``try_*`` family.

    TRY(CAST(x AS t)) → TRY_CAST(x AS t); TRY(a / b) and the other
    single-operator arithmetic forms → try_divide/try_add/try_subtract/
    try_multiply (same NULL-on-error semantics: division by zero,
    overflow under ANSI); TRY(arr[i]) / TRY(element_at(x, i)) →
    try_element_at (subscripts rewrite to element_at before TRY runs);
    TRY(date_parse(s, '%pat')) → try_to_timestamp with the %-pattern
    converted. Anything else raises — Spark has no generic
    expression-level TRY, and guessing would change error semantics."""
    while True:
        m = _TRY_RE.search(code)
        if not m:
            return code
        open_idx = m.end() - 1
        close = _find_close(code, open_idx)
        inner = code[open_idx + 1:close].strip()
        cm = re.match(r"CAST\s*\(", inner, re.IGNORECASE)
        if cm and _find_close(inner, cm.end() - 1) == len(inner) - 1:
            body = inner[cm.end():-1]
            code = (code[:m.start()] + f"TRY_CAST({body})" + code[close + 1:])
            continue
        call = re.match(r"([A-Za-z_]\w*)\s*\(", inner)
        if call and _find_close(inner, call.end() - 1) == len(inner) - 1:
            name = call.group(1).lower()
            body = inner[call.end():-1]
            twin = _TRY_CALL_TWINS.get(name)
            if twin is not None:
                code = (code[:m.start()] + twin(body)
                        + code[close + 1:])
                continue
            if name == "json_parse":
                # Trino TRY(json_parse(s)): NULL on malformed JSON.
                # json_parse is the identity here (JSON is a string),
                # so validate with try_parse_json and keep the text.
                code = (code[:m.start()]
                        + f"(CASE WHEN try_parse_json({body}) IS NULL "
                        + f"THEN NULL ELSE ({body}) END)"
                        + code[close + 1:])
                continue
            if name == "date_parse":
                args = [a.strip() for a in _split_top_level(body)]
                pm = (re.fullmatch(r"'\x00(\d+)\x00'", args[1])
                      if len(args) == 2 else None)
                if pm is None:
                    raise TrinoSqlUnsupported(
                        "TRY(date_parse(...)) needs a literal %-pattern")
                lit = stash[int(pm.group(1))][1:-1].replace("''", "'")
                java = _mysql_fmt_to_java(lit) if "%" in lit else lit
                stash.append("'" + java.replace("'", "''") + "'")
                code = (code[:m.start()]
                        + f"try_to_timestamp({args[0]}, "
                        + f"'\x00{len(stash) - 1}\x00')" + code[close + 1:])
                continue
        arith = _try_arith_lower(inner)
        if arith:
            code = code[:m.start()] + arith + code[close + 1:]
            continue
        raise TrinoSqlUnsupported(
            "TRY(expr) is supported for TRY(CAST(x AS t)), arithmetic "
            "expressions over + - * / %, subscripts TRY(x[i]) / "
            "TRY(element_at(x, i)), TRY(date_parse(s, p)), and the "
            "try_-twin calls (from_base64/from_hex/url_decode/"
            "json_parse) — rewrite other forms with the try_* builtins "
            "explicitly")


def _rewrite_unnest(code: str) -> str:
    """Trino's lateral UNNEST family → Spark LATERAL VIEW generators.

    Shapes (arg count vs alias-column count decides the generator):
      - ``UNNEST(arr) AS t(c)`` → ``explode(arr) t AS c``
      - ``UNNEST(a, b, …) AS t(x, y, …)`` (positional zip, Trino pads
        the shorter arrays with NULL) → ``inline(arrays_zip(a, b, …))``
        — Spark's arrays_zip pads to the longest length the same way.
      - ``UNNEST(m) AS t(k, v)`` (ONE argument, TWO columns = Trino map
        unnest) → ``explode(m) t AS k, v`` (Spark's map explode yields
        the same two columns). An array-of-row expanded this way fails
        analysis loudly (explode of array yields one column) — rewrite
        those as multi-arg UNNEST over the fields.
      - ``UNNEST(arr) WITH ORDINALITY AS t(c, ord)`` → ``inline(
        transform(arr, (x, i) -> struct(x, CAST(i + 1 AS BIGINT))))`` —
        1-based like Trino, and a plain higher-order expression so the
        plan stays whole-stage codegen.

    All three Trino spellings reach the same lowering (r8): explicit
    ``CROSS JOIN UNNEST``, the implicit-lateral comma form
    (``FROM t, UNNEST(…)``), and the standalone ``FROM UNNEST(…)``
    (wrapped as a single-row-seeded derived table so the alias exposes
    exactly the declared columns).
    """
    # Implicit-lateral comma form → CROSS JOIN (UNNEST is table-level
    # only in Trino, so a depth-any ", UNNEST(" is always a join item).
    code = re.sub(r",\s*UNNEST\s*\(", " CROSS JOIN UNNEST (", code,
                  flags=re.IGNORECASE)

    def _gen_for(args, cols, with_ord):
        if with_ord:   # WITH ORDINALITY — last alias column is 1-based
            if len(args) != 1 or len(cols) != 2:
                raise TrinoSqlUnsupported(
                    "UNNEST ... WITH ORDINALITY is supported for a single "
                    "array with AS t(col, ord) aliasing")
            return (f"inline(transform({args[0]}, "
                    f"(__x, __i) -> struct(__x, CAST(__i + 1 AS BIGINT))))")
        if len(args) == 1 and len(cols) == 1:
            return f"explode({args[0]})"
        if len(args) == 1 and len(cols) == 2:
            # Trino map unnest: one MAP argument, (key, value) columns.
            return f"explode({args[0]})"
        if len(args) == len(cols) and len(args) >= 2:
            return f"inline(arrays_zip({', '.join(args)}))"
        raise TrinoSqlUnsupported(
            f"UNNEST with {len(args)} arguments and {len(cols)} alias "
            "columns has no Spark translation")

    while True:   # standalone FROM UNNEST(…) [WITH ORDINALITY] AS t(…)
        m = _FROM_UNNEST_RE.search(code)
        if not m:
            break
        open_idx = m.end() - 1
        close = _find_close(code, open_idx)
        args = _split_top_level(code[open_idx + 1:close])
        tail = _UNNEST_TAIL_RE.match(code, close + 1)
        if not tail:
            raise TrinoSqlUnsupported(
                "FROM UNNEST requires the AS alias(columns...) form")
        alias = tail.group(2)
        cols = ", ".join(c.strip() for c in tail.group(3).split(","))
        gen = _gen_for(args, [c.strip() for c in tail.group(3).split(",")],
                       tail.group(1))
        code = (code[:m.start()]
                + f"FROM (SELECT {cols} FROM (SELECT 1) "
                + f"LATERAL VIEW {gen} __uv AS {cols}) AS {alias}"
                + code[tail.end():])
    while True:
        m = _UNNEST_RE.search(code)
        if not m:
            return code
        open_idx = m.end() - 1
        close = _find_close(code, open_idx)
        args = _split_top_level(code[open_idx + 1:close])
        tail = _UNNEST_TAIL_RE.match(code, close + 1)
        if not tail:
            raise TrinoSqlUnsupported(
                "CROSS JOIN UNNEST requires the AS alias(columns...) form")
        alias = tail.group(2)
        cols = [c.strip() for c in tail.group(3).split(",")]
        gen = _gen_for(args, cols, tail.group(1))
        code = (code[:m.start()]
                + f" LATERAL VIEW {gen} {alias} AS {', '.join(cols)} "
                + code[tail.end():])


#: Trino's TIMESTAMP '...' literal is timezone-LESS (TIMESTAMP(3)
#: without tz); Spark's is session-zoned, so the faithful translation is
#: TIMESTAMP_NTZ '...' — which also matches the NTZ the parquet
#: fixtures load as. Matches against the masked-literal form.
_TS_LITERAL_RE = re.compile(r"\bTIMESTAMP(\s*)(?='\x00\d+\x00')", re.IGNORECASE)

_STRING_PH_RE = re.compile(r"'\x00(\d+)\x00'")
_COMMENT_PH_RE = re.compile(r"\x01(\d+)\x01")


def _split_top_level(s: str) -> list[str]:
    """Split an argument list on depth-0 commas (masked text — string
    literals are atomic placeholders, so parens inside them can't skew
    the depth)."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _rewrite_calls(code: str, name: str, fn) -> str:
    """Rewrite every call of ``name`` via ``fn(args) -> str | None``
    (None = leave the call unchanged). Runs right-to-left so nested
    calls of the same function rewrite correctly."""
    pat = re.compile(r"\b" + name + r"\s*\(", re.IGNORECASE)
    matches = list(pat.finditer(code))
    for m in reversed(matches):
        open_idx = m.end() - 1
        close = _find_close(code, open_idx)
        args = _split_top_level(code[open_idx + 1:close])
        new = fn([a.strip() for a in args])
        if new is not None:
            code = code[:m.start()] + new + code[close + 1:]
    return code


#: Trino (MySQL-style) datetime %-tokens → Java SimpleDateFormat-style
#: patterns (the subset with an exact Spark equivalent; anything else
#: raises rather than silently reformatting).
_MYSQL_DT_TOKENS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M", "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H", "%h": "hh", "%I": "hh", "%i": "mm", "%s": "ss",
    "%S": "ss", "%p": "a", "%W": "EEEE", "%a": "EEE", "%b": "MMM",
    "%M": "MMMM", "%j": "DDD", "%T": "HH:mm:ss", "%%": "%",
}

_JAVA_LETTERS_RE = re.compile(r"[A-Za-z]+")


def _mysql_fmt_to_java(fmt: str) -> str:
    """Convert a Trino date_format/date_parse %-pattern to the Java
    pattern Spark's date_format/to_timestamp take. Literal letters in
    the input must be quoted for Java patterns; unknown % tokens are an
    error, not a guess."""
    out, i, n = [], 0, len(fmt)
    while i < n:
        if fmt[i] == "%":
            tok = fmt[i:i + 2]
            if tok not in _MYSQL_DT_TOKENS:
                raise TrinoSqlUnsupported(
                    f"date pattern token {tok!r} has no exact Spark equivalent")
            out.append(_MYSQL_DT_TOKENS[tok])
            i += 2
        else:
            j = i
            while j < n and fmt[j] != "%":
                j += 1
            lit = fmt[i:j]
            # quote any letter runs so Java doesn't treat them as patterns
            out.append(_JAVA_LETTERS_RE.sub(lambda m: f"'{m.group(0)}'", lit))
            i = j
    return "".join(out)


_REGEX_META = re.compile(r"[.^$*+?()\[\]{}|\\]")

_LISTAGG_RE = re.compile(r"\blistagg\s*\(", re.IGNORECASE)
_WITHIN_GROUP_RE = re.compile(r"\s*WITHIN\s+GROUP\s*\(", re.IGNORECASE)

# Trino caps LISTAGG output at its page size (1 MiB, io.trino SPI
# DEFAULT_MAX_PAGE_SIZE_IN_BYTES); ON OVERFLOW decides what happens at
# the cap. Module-level so unit tests can shrink it to exercise the
# truncation fold without megabyte fixtures.
_LISTAGG_MAX_BYTES = 1048576


def _rewrite_listagg(code: str) -> str:
    """``LISTAGG(e [, sep]) WITHIN GROUP (ORDER BY k, …)`` (SQL:2016 —
    the sorted string aggregation BI tools emit; Trino 355+) → a
    deterministic Spark fold: ``collect_list(struct(keys…, value))``
    sorted on the keys (value as final tie-break, so partition order
    can never leak into the output), NULL values dropped after the
    sort (Trino listagg skips NULLs), ``array_join`` with the
    separator. ``ON OVERFLOW ERROR`` is the default and unreachable —
    Spark strings have no 1 MB cap, so the clause is stripped;
    ``ON OVERFLOW TRUNCATE ['filler'] [WITH|WITHOUT COUNT]`` (r9)
    replays Trino's cap: entries are kept greedily while the running
    UTF-8 byte length (value + separator when not first) stays within
    ``_LISTAGG_MAX_BYTES`` (Trino's 1 MiB page cap), then the
    separator, the filler (default ``'...'``) and — WITH COUNT, the
    SQL:2016 default — the omitted-entry count in parentheses are
    appended (uncounted against the cap, as in Trino's output pass).
    DESC / NULLS FIRST / NULLS LAST keys (r9) compile to an explicit
    array_sort COMPARATOR — Trino treats a NULL key as LARGER than
    every value (last when ASC, first when DESC) unless NULLS
    FIRST/LAST overrides, which the default struct sort (ASC NULLS
    FIRST) cannot express."""
    for m in reversed(list(_LISTAGG_RE.finditer(code))):
        close = _find_close(code, m.end() - 1)
        args = [a.strip() for a in _split_top_level(code[m.end():close])]
        wm = _WITHIN_GROUP_RE.match(code, close + 1)
        if wm is None:
            raise TrinoSqlUnsupported(
                "listagg requires WITHIN GROUP (ORDER BY …)")
        close2 = _find_close(code, wm.end() - 1)
        om = re.match(r"\s*ORDER\s+BY\s+(.*)\Z",
                      code[wm.end():close2], re.IGNORECASE | re.DOTALL)
        if om is None:
            raise TrinoSqlUnsupported(
                "listagg WITHIN GROUP must contain ORDER BY")
        keys = [k.strip() for k in _split_top_level(om.group(1))]
        cleaned, descs, nulls_first = [], [], []
        for k in keys:
            nm = re.search(r"\bNULLS\s+(FIRST|LAST)\s*$", k,
                           re.IGNORECASE)
            nf = None
            if nm:
                nf = nm.group(1).upper() == "FIRST"
                k = k[: nm.start()].strip()
            dm = re.search(r"\b(ASC|DESC)\s*$", k, re.IGNORECASE)
            desc = False
            if dm:
                desc = dm.group(1).upper() == "DESC"
                k = k[: dm.start()].strip()
            # Trino: NULL keys sort as LARGER than any value — last
            # for ASC, first for DESC — unless NULLS FIRST/LAST says.
            cleaned.append(k)
            descs.append(desc)
            nulls_first.append(desc if nf is None else nf)
        if not 1 <= len(args) <= 2:
            raise TrinoSqlUnsupported(
                "listagg takes (expression [, separator])")
        distinct = bool(re.match(r"DISTINCT\b", args[0], re.IGNORECASE))
        if distinct:
            # listagg(DISTINCT e …) (r10, formerly refused): dedupe the
            # collected structs before the sorted fold. Trino restricts
            # DISTINCT aggregations to ORDER BY expressions that appear
            # in the arguments, so every sort key must be the value
            # expression itself — under that rule (value, key) structs
            # are duplicated exactly when values are, and array_distinct
            # is the faithful dedup.
            args[0] = args[0][len("DISTINCT"):].strip()
            norm = re.sub(r"\s+", "", args[0]).lower()
            bad = [k for k in cleaned
                   if re.sub(r"\s+", "", k).lower() != norm]
            if bad:
                raise TrinoSqlUnsupported(
                    "listagg DISTINCT: ORDER BY expressions must match "
                    f"the aggregated expression (Trino's own rule) — "
                    f"got {bad[0]!r}")
        sep = "''"
        truncate = False
        filler = "'...'"
        with_count = True
        if len(args) == 2:
            s = args[1]
            ow = re.search(r"\bON\s+OVERFLOW\b(.*)\Z", s,
                           re.IGNORECASE | re.DOTALL)
            if ow:
                tm = re.fullmatch(
                    r"\s*TRUNCATE\s*(?P<fill>'\x00\d+\x00')?\s*"
                    r"(?:(?P<mode>WITH|WITHOUT)\s+COUNT\s*)?",
                    ow.group(1), re.IGNORECASE | re.DOTALL)
                if tm:
                    truncate = True
                    if tm.group("fill"):
                        filler = tm.group("fill")
                    if tm.group("mode"):
                        with_count = tm.group("mode").upper() == "WITH"
                elif re.search(r"\bTRUNCATE\b", ow.group(1),
                               re.IGNORECASE):
                    raise TrinoSqlUnsupported(
                        "listagg ON OVERFLOW TRUNCATE: the filler must "
                        "be a string literal")
                s = s[:ow.start()].strip()  # ERROR = the default
            sep = s
        key_fields = ", ".join(f"({k}) AS _lo{i}"
                               for i, k in enumerate(cleaned))
        cmp = _listagg_cmp(len(cleaned), descs, nulls_first)
        collected = f"collect_list(struct({key_fields}, ({args[0]}) AS _lv))"
        if distinct:
            collected = f"array_distinct({collected})"
        arr = (f"transform(filter(array_sort({collected}, {cmp}), "
               f"_la -> _la._lv IS NOT NULL), _la -> _la._lv)")
        if truncate:
            new = _listagg_truncate(arr, sep, filler, with_count)
        else:
            new = f"array_join({arr}, {sep})"
        code = code[:m.start()] + new + code[close2 + 1:]
    return code


def _listagg_truncate(arr: str, sep: str, filler: str,
                      with_count: bool) -> str:
    """ON OVERFLOW TRUNCATE lowering: a greedy byte-budget fold over
    the sorted value array. ``aggregate`` carries (len, k, stop) — an
    entry is admitted while the running UTF-8 length (value plus
    separator when not first) stays within the cap; the first miss
    latches ``stop`` so later shorter entries cannot sneak in (Trino
    truncates a PREFIX, it does not best-fit). Cumulative length is
    monotone, so the admitted prefix equals Trino's output pass. The
    filler (and WITH COUNT's ``(omitted)``) is appended uncounted,
    matching Trino, which only budgets entries. Pure HOF codegen —
    per-group O(n), no Python, no extra shuffle."""
    cap = _LISTAGG_MAX_BYTES
    step = f"octet_length(_lx) + IF(_ac.k > 0, octet_length({sep}), 0)"
    k_expr = (
        "aggregate(_lr, "
        "named_struct('len', CAST(0 AS BIGINT), 'k', 0, 'stop', false), "
        f"(_ac, _lx) -> IF(_ac.stop OR _ac.len + {step} > {cap}, "
        "named_struct('len', _ac.len, 'k', _ac.k, 'stop', true), "
        f"named_struct('len', _ac.len + {step}, 'k', _ac.k + 1, "
        "'stop', false)), _ac -> _ac.k)")
    count_tail = (", '(', CAST(size(_lr) - _lk AS STRING), ')'"
                  if with_count else "")
    trunc = (f"concat(array_join(slice(_lr, 1, _lk), {sep}), "
             f"IF(_lk > 0, {sep}, ''), {filler}{count_tail})")
    body = (f"IF(octet_length(array_join(_lr, {sep})) <= {cap}, "
            f"array_join(_lr, {sep}), "
            f"element_at(transform(array({k_expr}), "
            f"_lk -> {trunc}), 1))")
    return f"element_at(transform(array({arr}), _lr -> {body}), 1)"


def _listagg_cmp(nkeys: int, descs: list[bool],
                 nulls_first: list[bool]) -> str:
    """Comparator lambda for array_sort ordering structs by
    ``_lo0.._loN`` under per-key direction and null placement (Trino:
    NULL key = largest), with ``_lv`` as the final ascending
    tie-break."""
    def key_cmp(i: int, rest: str) -> str:
        lo, hi = ("1", "-1") if descs[i] else ("-1", "1")
        nf, nl = ("-1", "1") if nulls_first[i] else ("1", "-1")
        f = f"_lo{i}"
        return (f"CASE WHEN _la.{f} IS NULL AND _lb.{f} IS NULL "
                f"THEN {rest} "
                f"WHEN _la.{f} IS NULL THEN {nf} "
                f"WHEN _lb.{f} IS NULL THEN {nl} "
                f"WHEN _la.{f} < _lb.{f} THEN {lo} "
                f"WHEN _la.{f} > _lb.{f} THEN {hi} "
                f"ELSE {rest} END")

    cmp = ("CASE WHEN _la._lv IS NULL AND _lb._lv IS NULL THEN 0 "
           "WHEN _la._lv IS NULL THEN 1 WHEN _lb._lv IS NULL THEN -1 "
           "WHEN _la._lv < _lb._lv THEN -1 "
           "WHEN _la._lv > _lb._lv THEN 1 ELSE 0 END")
    for i in range(nkeys - 1, -1, -1):
        cmp = key_cmp(i, cmp)
    return f"(_la, _lb) -> {cmp}"


_VARIANT_NUM_TYPES = ("'TINYINT', 'SMALLINT', 'INT', 'BIGINT', "
                      "'FLOAT', 'DOUBLE'")


def _lax_unwrap_k3(arr: str, cmp, var: str = "_jw") -> str:
    """Existential comparison over a lax-unwrapped array under the ISO
    any-errored-pair rule (r11, shared by every filter atom): evaluate
    ``cmp`` ONCE per element (bound through a transform), then UNKNOWN
    if any pair errored, else TRUE if any pair compared true, else
    FALSE. Empty array → FALSE (no pair, no error)."""
    return (f"element_at(transform(array(transform({arr}, "
            f"{var} -> {cmp(var)})), _jc -> "
            f"CASE WHEN exists(_jc, _jb -> _jb IS NULL) "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE exists(_jc, _jb -> _jb) END), 1)")


def _floor_double(d: str) -> str:
    """Math.floor in the DOUBLE domain (r11 review fix): Spark's
    ``floor(double)`` returns BIGINT and SATURATES at Long.MaxValue,
    so 1e300 would render as 9.22e18. ``d % 1.0`` keeps everything in
    double: any |d| ≥ 2^53 is already integral (remainder 0 → first
    branch), NaN propagates, and the ±0.0 corners are handled by the
    callers' explicit branches."""
    return (f"(CASE WHEN ({d}) % 1.0D = 0.0D THEN ({d}) "
            f"WHEN ({d}) > 0.0D THEN ({d}) - ({d}) % 1.0D "
            f"ELSE ({d}) - ({d}) % 1.0D - 1.0D END)")


def _jsonpath_filter_pred(fpath: str, op: str, lit_sql: str,
                          is_str: bool, strict: bool = False) -> str:
    """Predicate body for a ``?(@.chain <op> literal)`` jsonpath
    filter over the bound array element ``_jf``, with the standard's
    EXACT three-valued outcomes (r10 — negation-safe: a positive-only
    filter can't tell FALSE from UNKNOWN because both drop, but
    ``!(...)`` can, so each case must land on the right K3 value):

      - missing member (lax) → empty sequence → comparison FALSE
        (comparisons are existential: no pair, no error);
      - JSON null item vs a literal → FALSE for ``=``, TRUE for
        ``<>`` (SQL/JSON null is an ordinary item equal only to
        itself — NOT SQL NULL), and UNKNOWN for the ordering
        operators (r11 — null participates in no ordering, so
        ``< <= > >=`` against it is an errored pair, observable
        under ``!(...)`` which drops UNKNOWN but keeps FALSE);
      - present but type-mismatched items (string item vs number
        literal …) → UNKNOWN (SQL NULL);
      - matched types → the actual comparison.

    SQL/JSON comparisons are TYPED, so the cast is gated on
    ``schema_of_variant`` (``try_variant_get`` alone coerces "5" →
    5.0). Lax mode auto-unwraps a single array level; per the ISO
    comparison rule the result is UNKNOWN as soon as ANY unwrapped
    pair errors (r11 — Spark's bare ``exists`` would let one TRUE
    pair win over an errored pair; a mixed-type member like
    ``[5, "x"]`` under ``> 1`` must be UNKNOWN, not TRUE), else
    TRUE if any pair compares true, else FALSE.

    STRICT mode (r11): a missing member is a structural ERROR — the
    filter's implicit error handler turns it into UNKNOWN (lax: empty
    sequence → FALSE), and there is NO array auto-unwrap, so an
    array item under a scalar comparison is a type-mismatch →
    UNKNOWN. Observable only under !(...)/exists — positive filters
    drop FALSE and UNKNOWN alike, which is why the lax lowering was
    sound for positive strict filters all along."""
    null_cmp = ("TRUE" if op == "<>" else
                "FALSE" if op == "=" else "CAST(NULL AS BOOLEAN)")
    miss = "CAST(NULL AS BOOLEAN)" if strict else "FALSE"
    if is_str:
        def cmp(x: str) -> str:
            return (f"CASE WHEN schema_of_variant({x}) = 'VOID' "
                    f"THEN {null_cmp} "
                    f"WHEN schema_of_variant({x}) = 'STRING' "
                    f"THEN try_cast({x} AS STRING) {op} {lit_sql} "
                    f"ELSE CAST(NULL AS BOOLEAN) END")
    else:
        def cmp(x: str) -> str:
            return (f"CASE WHEN schema_of_variant({x}) = 'VOID' "
                    f"THEN {null_cmp} "
                    f"WHEN schema_of_variant({x}) IN "
                    f"({_VARIANT_NUM_TYPES}) OR schema_of_variant({x}) "
                    f"LIKE 'DECIMAL%' "
                    f"THEN try_cast({x} AS DOUBLE) {op} {lit_sql} "
                    f"ELSE CAST(NULL AS BOOLEAN) END")
    unwrap = ("CAST(NULL AS BOOLEAN)" if strict else
              _lax_unwrap_k3("try_cast(_jv AS ARRAY<VARIANT>)", cmp))
    body = (f"CASE WHEN _jv IS NULL THEN {miss} "
            f"WHEN schema_of_variant(_jv) LIKE 'ARRAY%' THEN {unwrap} "
            f"ELSE {cmp('_jv')} END")
    return (f"element_at(transform(array("
            f"try_variant_get(_jf, {fpath}, 'variant')), "
            f"_jv -> {body}), 1)")


_JSONPATH_FILTER_ATOM_RE = re.compile(
    r"@(?P<chain>(?:\.\w+|\[\d+\])*)"
    r"(?P<meth>\.(?:size|type|double|ceiling|floor|abs)\(\))?\s*"
    r"(?P<op>==|!=|<>|<=|>=|<|>)\s*"
    r"(?P<lit>-?\d+(?:\.\d+)?|\"[^\"]*\")")


def _jsonpath_numeric_method_pred(meth: str):
    """Predicate-body builder for ``?(@.chain.ceiling()/.floor()/
    .abs() <op> literal)`` atoms (r11, with the terminal forms): the
    method applies to NUMBER items only — any other item is an error →
    UNKNOWN. The -0.0 corners that matter for the TERMINAL renderers
    are comparison-invisible here (-0.0 == 0.0), so the value exprs
    stay plain. Lax unwraps an array one level before the method
    (any errored pair → UNKNOWN, ISO comparison rule); strict treats
    the array itself as an error. A string literal can never equal a
    number → UNKNOWN when the member is present."""
    def pred(fpath: str, op: str, lit_sql: str,
             is_str: bool, strict: bool = False) -> str:
        miss = "CAST(NULL AS BOOLEAN)" if strict else "FALSE"
        if is_str:
            body = (f"CASE WHEN _jv IS NULL THEN {miss} "
                    "ELSE CAST(NULL AS BOOLEAN) END")
        else:
            def val(x: str, dbl: bool) -> str:
                if dbl:
                    d = f"try_cast({x} AS DOUBLE)"
                    return (f"abs({d})" if meth == "abs" else
                            f"(-{_floor_double(f'-({d})')})"
                            if meth == "ceiling" else
                            _floor_double(d))
                iv = f"try_cast({x} AS BIGINT)"
                return f"abs({iv})" if meth == "abs" else iv

            def cmp(x: str) -> str:
                return (f"CASE WHEN schema_of_variant({x}) IN "
                        f"('TINYINT', 'SMALLINT', 'INT', 'BIGINT') "
                        f"THEN {val(x, False)} {op} {lit_sql} "
                        f"WHEN schema_of_variant({x}) IN "
                        f"('FLOAT', 'DOUBLE') "
                        f"OR schema_of_variant({x}) LIKE 'DECIMAL%' "
                        f"THEN {val(x, True)} {op} {lit_sql} "
                        f"ELSE CAST(NULL AS BOOLEAN) END")

            unwrap = ("CAST(NULL AS BOOLEAN)" if strict else
                      _lax_unwrap_k3("try_cast(_jv AS ARRAY<VARIANT>)",
                                     cmp))
            body = (f"CASE WHEN _jv IS NULL THEN {miss} "
                    f"WHEN schema_of_variant(_jv) LIKE 'ARRAY%' "
                    f"THEN {unwrap} ELSE {cmp('_jv')} END")
        return (f"element_at(transform(array("
                f"try_variant_get(_jf, {fpath}, 'variant')), "
                f"_jv -> {body}), 1)")
    return pred


def _jsonpath_double_render(vexpr: str) -> str:
    """Render the VARIANT item ``vexpr`` through the SQL/JSON
    ``.double()`` item method (r10): a number item or a numeric STRING
    item becomes the double's canonical text (Java Double.toString on
    both engines — '3.0', '1.5', '1.0E20'); any other item (boolean,
    JSON null, array, object, non-numeric string) is a conversion
    error → NULL, which callers turn into the ON ERROR default."""
    return (f"element_at(transform(array({vexpr}), _jq -> "
            f"CASE WHEN _jq IS NULL THEN NULL "
            f"WHEN schema_of_variant(_jq) = 'STRING' "
            f"THEN CAST(try_cast(try_cast(_jq AS STRING) AS DOUBLE) "
            f"AS STRING) "
            f"WHEN schema_of_variant(_jq) IN ({_VARIANT_NUM_TYPES}) "
            f"OR schema_of_variant(_jq) LIKE 'DECIMAL%' "
            f"THEN CAST(try_cast(_jq AS DOUBLE) AS STRING) "
            f"ELSE NULL END), 1)")


def _jsonpath_numeric_method_render(vexpr: str, meth: str) -> str:
    """Render the VARIANT item ``vexpr`` through ``.ceiling()`` /
    ``.floor()`` / ``.abs()`` (r11, formerly named refusals). The
    methods apply to NUMBER items only — any other item is an error →
    NULL, which the caller's whole-result channel turns into the ON
    ERROR default. Integer-class items stay integers (identity under
    ceiling/floor); fractional/decimal-class items compute in DOUBLE
    with Java Math semantics INCLUDING the -0.0 corner that kept these
    refused until now (Math.ceil of (-1,0) is -0.0, Math.floor/ceil of
    ±0.0 is the input itself — Spark's LONG-returning ceil/floor lose
    both, so the double path branches around them explicitly):
    ceil(x) = -floor(-x) elsewhere, rendered via Double.toString on
    both engines. Known input divergence (pre-existing, shared with
    .double()): a LITERAL ``-0.0`` in the source JSON parses to a
    sign-less DECIMAL variant, so its negative zero is lost BEFORE the
    method applies — the VARIANT canonicalization class already
    documented in the module header."""
    iv = "try_cast(_jq AS BIGINT)"
    d = "try_cast(_jq AS DOUBLE)"
    if meth == "abs":
        int_out, dbl_out = f"abs({iv})", f"abs({d})"
    elif meth == "ceiling":
        int_out = iv
        dbl_out = (f"CASE WHEN {d} = 0.0D THEN {d} "
                   f"WHEN {d} > -1.0D AND {d} < 0.0D "
                   f"THEN CAST('-0.0' AS DOUBLE) "
                   f"ELSE (-{_floor_double(f'-({d})')}) END")
    else:   # floor
        int_out = iv
        dbl_out = (f"CASE WHEN {d} = 0.0D THEN {d} "
                   f"ELSE {_floor_double(d)} END")
    return (f"element_at(transform(array({vexpr}), _jq -> "
            f"CASE WHEN _jq IS NULL THEN NULL "
            f"WHEN schema_of_variant(_jq) IN ('TINYINT', 'SMALLINT', "
            f"'INT', 'BIGINT') THEN CAST({int_out} AS STRING) "
            f"WHEN schema_of_variant(_jq) IN ('FLOAT', 'DOUBLE') "
            f"OR schema_of_variant(_jq) LIKE 'DECIMAL%' "
            f"THEN CAST({dbl_out} AS STRING) "
            f"ELSE NULL END), 1)")


def _jsonpath_double_pred(fpath: str, op: str, lit_sql: str,
                          is_str: bool, strict: bool = False) -> str:
    """Predicate body for a ``?(@.chain.double() <op> literal)`` atom
    (r10): ``.double()`` converts a number item or a numeric STRING
    item to double; any other item — or an unparseable string — is a
    conversion error → UNKNOWN (these are NOT structural errors, so
    lax does not suppress them). A string literal RHS can never equal
    a number → UNKNOWN when the member is present; a MISSING member is
    the lax empty sequence → FALSE (negation-safe). An array-valued
    member lax-unwraps ONE level before the method applies (the
    SQL/JSON method-application rule), existentially like the plain
    comparison atoms. STRICT mode (r11): a missing member is an error
    → UNKNOWN, and the method-application array unwrap is a lax rule
    — an array item in strict is an error → UNKNOWN."""
    miss = "CAST(NULL AS BOOLEAN)" if strict else "FALSE"
    if is_str:
        body = (f"CASE WHEN _jv IS NULL THEN {miss} "
                "ELSE CAST(NULL AS BOOLEAN) END")
    else:
        def cmp(x: str) -> str:
            return (
                f"CASE WHEN schema_of_variant({x}) = 'STRING' "
                f"THEN try_cast(try_cast({x} AS STRING) AS DOUBLE) "
                f"{op} {lit_sql} "
                f"WHEN schema_of_variant({x}) IN ({_VARIANT_NUM_TYPES}) "
                f"OR schema_of_variant({x}) LIKE 'DECIMAL%' "
                f"THEN try_cast({x} AS DOUBLE) {op} {lit_sql} "
                f"ELSE CAST(NULL AS BOOLEAN) END")
        # r11 review fix: the lax unwrap follows the same ISO
        # any-errored-pair→UNKNOWN rule as the plain comparison atoms
        # (a bare exists() let one TRUE pair win over a conversion
        # error — the same mixed-type member gave different K3
        # outcomes depending on whether .double() was spelled).
        unwrap = ("CAST(NULL AS BOOLEAN)" if strict else
                  _lax_unwrap_k3("try_cast(_jv AS ARRAY<VARIANT>)",
                                 cmp, var="_jx"))
        body = (
            f"CASE WHEN _jv IS NULL THEN {miss} "
            f"WHEN schema_of_variant(_jv) LIKE 'ARRAY%' THEN {unwrap} "
            f"ELSE {cmp('_jv')} END")
    return (f"element_at(transform(array("
            f"try_variant_get(_jf, {fpath}, 'variant')), "
            f"_jv -> {body}), 1)")


def _variant_type_word(vexpr: str, quoted: bool) -> str:
    """schema_of_variant → the SQL/JSON type word for the item bound
    to ``vexpr`` (number/string/boolean/array/object/null — Spark's
    VOID variant is the JSON null item). One table for both the filter
    predicate (bare word, string comparison) and the terminal method
    (quoted — json_query KEEP QUOTES output)."""
    q = '"' if quoted else ""
    return (
        f"element_at(transform(array(schema_of_variant({vexpr})), _jt -> "
        f"CASE WHEN _jt = 'VOID' THEN '{q}null{q}' "
        f"WHEN _jt = 'STRING' THEN '{q}string{q}' "
        f"WHEN _jt = 'BOOLEAN' THEN '{q}boolean{q}' "
        f"WHEN _jt IN ({_VARIANT_NUM_TYPES}) "
        f"OR _jt LIKE 'DECIMAL%' THEN '{q}number{q}' "
        f"WHEN _jt LIKE 'ARRAY%' THEN '{q}array{q}' "
        f"ELSE '{q}object{q}' END), 1)")


def _jsonpath_type_pred(fpath: str, op: str, lit_sql: str,
                        is_str: bool, strict: bool = False) -> str:
    """Predicate body for a ``?(@.chain.type() <op> literal)`` atom
    (r10): the SQL/JSON type word compared as a string. A numeric
    literal can never equal a type word → UNKNOWN when the member is
    present (type-mismatch rule); a MISSING member is the lax empty
    sequence → FALSE (negation-safe, see _jsonpath_filter_pred). JSON
    null is a VOID variant (non-NULL), so ``@.x.type() == "null"``
    genuinely matches null members. STRICT (r11): missing member →
    error → UNKNOWN (.type() itself applies to any present item)."""
    miss = "CAST(NULL AS BOOLEAN)" if strict else "FALSE"
    if not is_str:
        return (f"element_at(transform(array("
                f"try_variant_get(_jf, {fpath}, 'variant')), "
                f"_jv -> CASE WHEN _jv IS NULL THEN {miss} "
                f"ELSE CAST(NULL AS BOOLEAN) END), 1)")
    word = _variant_type_word("_jv", quoted=False)
    return (f"element_at(transform(array("
            f"try_variant_get(_jf, {fpath}, 'variant')), "
            f"_jv -> CASE WHEN _jv IS NULL THEN {miss} "
            f"ELSE {word} {op} {lit_sql} END), 1)")


def _jsonpath_size_pred(fpath: str, op: str, lit_sql: str,
                        is_str: bool, strict: bool = False) -> str:
    """Predicate body for a ``?(@.chain.size() <op> literal)`` atom
    (r10): SQL/JSON ``size()`` is the element count of an array item
    and 1 for ANY other item — including the JSON null item, which is
    a non-NULL VOID variant here and correctly sizes to 1. A string
    literal can never equal a number under SQL/JSON typed comparison
    → UNKNOWN when the member is present; a MISSING member is the lax
    empty sequence → FALSE (negation-safe, see
    _jsonpath_filter_pred). STRICT (r11): missing member → error →
    UNKNOWN, and ``.size()`` of a NON-array is an error too (the
    wrap-to-1 is the lax auto-wrap rule)."""
    miss = "CAST(NULL AS BOOLEAN)" if strict else "FALSE"
    nonarr = "CAST(NULL AS BOOLEAN)" if strict else f"1 {op} {lit_sql}"
    if is_str:
        body = (f"CASE WHEN _jv IS NULL THEN {miss} "
                "ELSE CAST(NULL AS BOOLEAN) END")
    else:
        body = (f"CASE WHEN _jv IS NULL THEN {miss} "
                "WHEN schema_of_variant(_jv) LIKE 'ARRAY%' "
                "THEN size(try_cast(_jv AS ARRAY<VARIANT>)) "
                f"{op} {lit_sql} "
                f"ELSE {nonarr} END")
    return (f"element_at(transform(array("
            f"try_variant_get(_jf, {fpath}, 'variant')), "
            f"_jv -> {body}), 1)")


class _JPFilterUnsupported(Exception):
    """Internal: a ?(...) body outside the supported grammar — the
    caller converts to None → the public named error."""


_JSONPATH_EXISTS_RE = re.compile(
    r"exists\s*\(\s*@(?P<chain>(?:\.\w+|\[\d+\])*)\s*\)")


def _jsonpath_exists_pred(fpath: str, strict: bool = False) -> str:
    """``exists(@.chain)`` path predicate (r10): lax SQL/JSON exists —
    TRUE when the member resolves (INCLUDING to JSON null, which is a
    non-NULL VOID variant here), FALSE when missing (lax empty
    sequence → false, not unknown). Intermediate-step array
    auto-unwrap is out of scope, same as the comparison atoms.
    STRICT (r11): a missing member is a structural error, so exists
    is UNKNOWN rather than FALSE — !exists can never keep a row in
    strict mode, it can only drop."""
    got = f"(try_variant_get(_jf, {fpath}, 'variant') IS NOT NULL)"
    if strict:
        return f"(CASE WHEN {got} THEN TRUE END)"
    return got


def _jsonpath_filter_body(body: str, requote,
                          strict: bool = False) -> str | None:
    """``?(...)`` filter predicate (r9 single comparison; r10 &&/||,
    parenthesized sub-predicates, ``!`` negation, ``exists()``).
    Recursive descent over the SQL/JSON path predicate grammar:

        or    := and ( '||' and )*
        and   := unary ( '&&' unary )*
        unary := '!' delimited | delimited | exists | atom
        delimited := '(' or ')'        -- ! applies only here + exists
        atom  := @.chain[.size()|.type()|.double()] <op> literal

    SQL/JSON predicates are Kleene three-valued — ``unknown && false =
    false``, ``unknown || true = true``, ``!unknown = unknown`` —
    which is exactly Spark's NULL-aware AND/OR/NOT, so the atoms (each
    NULL on missing member / type mismatch, per _jsonpath_filter_pred)
    compose directly and ``filter()``'s keep-only-TRUE implements the
    UNKNOWN-drop rule for every connective shape. ``&&`` binds tighter
    than ``||`` (the SQL/JSON path grammar). Item methods other than
    size/type return None → the caller's named error."""
    pos, n = 0, len(body)

    def ws():
        nonlocal pos
        while pos < n and body[pos].isspace():
            pos += 1

    def expect_close():
        nonlocal pos
        ws()
        if pos >= n or body[pos] != ")":
            raise _JPFilterUnsupported(body)
        pos += 1

    def parse_or():
        parts = [parse_and()]
        ws()
        nonlocal pos
        while body.startswith("||", pos):
            pos += 2
            parts.append(parse_and())
            ws()
        if len(parts) == 1:
            return parts[0]
        return " OR ".join(f"({p})" for p in parts)

    def parse_and():
        parts = [parse_unary()]
        ws()
        nonlocal pos
        while body.startswith("&&", pos):
            pos += 2
            parts.append(parse_unary())
            ws()
        if len(parts) == 1:
            return parts[0]
        return " AND ".join(f"({p})" for p in parts)

    def parse_unary():
        nonlocal pos
        ws()
        if pos < n and body[pos] == "!":
            # the grammar allows ! only on a DELIMITED predicate:
            # !(...) or !exists(...); a bare !@.a == 1 is invalid
            # in Trino too, so it falls to the named error.
            pos += 1
            ws()
            if pos < n and body[pos] == "(":
                pos += 1
                inner = parse_or()
                expect_close()
                return f"(NOT ({inner}))"
            em = _JSONPATH_EXISTS_RE.match(body, pos)
            if em is None:
                raise _JPFilterUnsupported(body)
            pos = em.end()
            return ("(NOT " + _jsonpath_exists_pred(
                requote("$" + em.group("chain")), strict) + ")")
        if pos < n and body[pos] == "(":
            pos += 1
            inner = parse_or()
            expect_close()
            return f"({inner})"
        em = _JSONPATH_EXISTS_RE.match(body, pos)
        if em is not None:
            pos = em.end()
            return _jsonpath_exists_pred(
                requote("$" + em.group("chain")), strict)
        am = _JSONPATH_FILTER_ATOM_RE.match(body, pos)
        if am is None:
            raise _JPFilterUnsupported(body)
        pos = am.end()
        op = {"==": "=", "!=": "<>"}.get(am.group("op"), am.group("op"))
        flit = am.group("lit")
        is_str = flit.startswith('"')
        lit_sql = requote(flit[1:-1]) if is_str else flit
        meth = am.group("meth") or ""
        pred_fn = (_jsonpath_size_pred if meth.startswith(".size")
                   else _jsonpath_type_pred if meth.startswith(".type")
                   else _jsonpath_double_pred if meth.startswith(".double")
                   else _jsonpath_numeric_method_pred(meth[1:-2])
                   if meth.startswith((".ceiling", ".floor", ".abs"))
                   else _jsonpath_filter_pred)
        return pred_fn(
            requote("$" + am.group("chain")), op, lit_sql, is_str,
            strict)

    try:
        out = parse_or()
    except _JPFilterUnsupported:
        return None
    ws()
    if pos != n:
        return None
    return out


def _jsonpath_unwrap(cur: str, var: str, strict: bool = False) -> str:
    """One SQL/JSON array-unwrap level over the ``ARRAY<VARIANT>``
    expression ``cur``: arrays unwrap and concatenate in document
    order; in LAX mode a non-array item auto-wraps into a singleton
    sequence, while in STRICT mode it is a structural ERROR — encoded
    as a NULL inner array, which ``flatten`` propagates to a NULL
    result → the callers' ON ERROR default (NULL / FALSE)."""
    other = "NULL" if strict else f"array({var})"
    return (f"flatten(transform({cur}, {var} -> "
            f"CASE WHEN schema_of_variant({var}) LIKE 'ARRAY%' "
            f"THEN try_cast({var} AS ARRAY<VARIANT>) "
            f"ELSE {other} END))")


def _jsonpath_wildcard_matches(x_sql: str, path: str, requote,
                               fname: str,
                               strict: bool = False) -> str | None:
    """Lower a ``head ([*]|[last] ?(filter)? chain)+`` JSON path over
    the document expression ``x_sql`` to an ``ARRAY<VARIANT>`` of
    matched items (shared by json_query/json_value/json_exists;
    single-[*] r10, multi-[*] and [last] later in r10). Returns None
    when the path is not of that shape (callers handle plain chains
    and the named error); raises for an unbalanced or unsupported
    filter. ``[last]`` selects an array item's final element — lax
    auto-wraps non-arrays and drops the suppressed out-of-bounds
    error on empty arrays; strict (r11) makes either a STRUCTURAL
    error → NULL matches → the callers' ON ERROR default. ``[n to m]``
    ranges and subscript lists keep the named error. Semantics, per
    ``[*]`` step:

      - lax AUTO-WRAPS a non-array item into a singleton sequence
        (SQL/JSON lax accessor rule — previously a silent NULL for
        scalar heads); STRICT mode instead makes ``[*]`` over a
        non-array a structural error → NULL matches → the callers'
        ON ERROR default (NULL / FALSE), never an auto-wrapped value;
      - the optional ``?(...)`` filter (at most one, attached to any
        single ``[*]`` step) keeps elements whose predicate is TRUE
        (_jsonpath_filter_body — exact K3 values; lax: a missing
        member is FALSE; strict (r11): a missing member is a
        structural error caught by the filter's implicit error
        handler → UNKNOWN, and the lax array-unwrap /
        method-auto-wrap rules are off — observable only under
        ``!``/``exists``, which is why positive strict filters were
        already sound through the lax lowering);
      - each MEMBER access in the step's chain first lax-unwraps one
        array level (the SQL/JSON lax member-access rule — an
        array-of-objects element contributes every object's member);
        elements where the member is MISSING drop (lax), while a
        JSON null item survives as a VOID variant. SUBSCRIPT accesses
        do not auto-wrap (documented scope cut, as are mid-chain
        unwraps inside ?(...) atom chains and strict mid-chain
        errors — the r7 conforming-data precedent). The result array
        never contains SQL NULLs.

    The ?(...) body is extracted with a string-aware depth scan —
    parenthesized sub-predicates nest parens beyond what a regex can
    delimit."""
    fbody = None
    qm = re.search(r"\?\s*\(", path)
    if qm is not None:
        depth, i, in_str = 1, qm.end(), False
        while i < len(path) and depth:
            c = path[i]
            if c == '"':
                in_str = not in_str
            elif not in_str and c == "(":
                depth += 1
            elif not in_str and c == ")":
                depth -= 1
            i += 1
        if depth:
            raise TrinoSqlUnsupported(
                f"{fname}: unbalanced ?(...) filter in JSON path")
        fbody = path[qm.end():i - 1].strip()
        path = path[:qm.start()] + "\x01" + path[i:]
    # string literals live in the extracted filter body, so the
    # remaining path can be whitespace-normalized for one regex
    path = re.sub(r"\s+", "", path)
    m = re.fullmatch(
        r"(?P<head>\$(?:\.\w+|\[\d+\])*)"
        r"(?P<rest>(?:\[(?:\*|last|\d+to(?:\d+|last))\]\x01?"
        r"(?:\.\w+|\[\d+\])*)+)", path)
    if m is None:
        return None
    head_v = (f"variant_get(try_parse_json({x_sql}), "
              f"{requote(m.group('head'))}, 'variant')")
    cur = f"filter(array({head_v}), _jm0 -> _jm0 IS NOT NULL)"
    steps = re.findall(
        r"\[(\*|last|\d+to(?:\d+|last))\](\x01?)((?:\.\w+|\[\d+\])*)",
        m.group("rest"))
    for i, (kind, has_filter, seg) in enumerate(steps, 1):
        rng = re.fullmatch(r"(\d+)to(\d+|last)", kind)
        if rng:
            # [n to m] range subscript (r11): elements n..m of an
            # array item (0-based inclusive; 'last' = the final
            # element). Lax auto-wraps a non-array (in range iff
            # n == 0) and CLAMPS out-of-range ends (suppressed
            # structural errors → elements just absent); strict makes
            # a non-array, an empty slice, or an out-of-range end a
            # whole-result error through the NULL channel. A reversed
            # literal range (n > m) is nonsense in any mode — named
            # error at rewrite time, matching exact-or-refuse.
            lo = int(rng.group(1))
            hi = None if rng.group(2) == "last" else int(rng.group(2))
            if hi is not None and lo > hi:
                raise TrinoSqlUnsupported(
                    f"{fname}: [n to m] subscript with n > m")
            arr = f"try_cast(_jr{i} AS ARRAY<VARIANT>)"
            ln = (f"size({arr}) - {lo}" if hi is None
                  else f"{hi - lo + 1}")
            sl = f"slice({arr}, {lo + 1}, greatest({ln}, 0))"
            if strict:
                # single-embed of ``cur`` (r11 second review pass):
                # NULL on error, flatten propagates it whole-result.
                need = lo + 1 if hi is None else hi + 1
                cur = (f"flatten(transform({cur}, _jr{i} -> "
                       f"CASE WHEN schema_of_variant(_jr{i}) "
                       f"LIKE 'ARRAY%' AND size({arr}) >= {need} "
                       f"THEN {sl} ELSE NULL END))")
            else:
                wrap_in = ("array(_jr{i})".format(i=i) if lo == 0
                           else "array()")
                cur = (f"flatten(transform({cur}, _jr{i} -> "
                       f"CASE WHEN schema_of_variant(_jr{i}) "
                       f"LIKE 'ARRAY%' THEN {sl} "
                       f"ELSE CAST({wrap_in} AS ARRAY<VARIANT>) END))")
        elif kind == "last":
            if strict:
                # strict [last] (r11): a non-array item or an empty
                # array is a STRUCTURAL error → the whole result is
                # the ON ERROR default, encoded as a NULL element
                # that flatten() propagates whole-result (the same
                # channel strict [*] uses; ``cur`` embedded ONCE —
                # second review pass, the exists+transform form
                # doubled the generated SQL per step).
                la = f"try_cast(_jl{i} AS ARRAY<VARIANT>)"
                cur = (f"flatten(transform({cur}, _jl{i} -> "
                       f"CASE WHEN schema_of_variant(_jl{i}) "
                       f"LIKE 'ARRAY%' AND size({la}) > 0 "
                       f"THEN array(element_at({la}, -1)) "
                       f"ELSE NULL END))")
            else:
                # lax [last]: the final element of an array item; a
                # non-array item auto-wraps into a singleton, so
                # [last] is the item itself; an empty array is the
                # suppressed out-of-bounds error → the element drops
                # (try_element_at → NULL).
                cur = (f"filter(transform({cur}, _jl{i} -> "
                       f"CASE WHEN schema_of_variant(_jl{i}) LIKE "
                       f"'ARRAY%' THEN try_element_at(try_cast(_jl{i} "
                       f"AS ARRAY<VARIANT>), -1) ELSE _jl{i} END), "
                       f"_jn{i} -> _jn{i} IS NOT NULL)")
        else:
            cur = _jsonpath_unwrap(cur, f"_ju{i}", strict=strict)
        if has_filter:
            pred = _jsonpath_filter_body(fbody, requote, strict)
            if pred is None:
                raise TrinoSqlUnsupported(
                    f"{fname} filter: only &&/||/!-combinations "
                    "(parens allowed) of "
                    "'@.chain[.size()|.type()|.double()] <op> literal'"
                    " comparisons and exists(@.chain) are supported — "
                    "other item methods keep a named error")
            cur = f"filter({cur}, _jf -> {pred})"
        for j, acc in enumerate(re.findall(r"\.\w+|\[\d+\]", seg), 1):
            if strict:
                # strict member/subscript access (r11 review fix): a
                # missing member or out-of-range subscript on ANY
                # element is a STRUCTURAL error → the whole result
                # goes through the NULL channel (the lax form below
                # silently dropped the element — wrong once strict
                # paths became reachable this round). No lax member
                # unwrap either. Single-embed of ``cur`` (second
                # review pass: embedding it twice doubled the
                # generated SQL per accessor — exponential in chain
                # length): each element maps to a singleton array or
                # NULL on error, and flatten() returns NULL when any
                # element is NULL — the same channel strict [*] uses.
                # A present member is never SQL NULL (JSON null is a
                # non-NULL VOID variant), so NULL is unambiguous.
                gv = (f"try_variant_get(_js{i}_{j}, "
                      f"{requote('$' + acc)}, 'variant')")
                cur = (f"flatten(transform({cur}, _js{i}_{j} -> "
                       f"CASE WHEN {gv} IS NULL THEN NULL "
                       f"ELSE array({gv}) END))")
                continue
            if acc.startswith("."):
                cur = _jsonpath_unwrap(cur, f"_jw{i}_{j}")
            cur = (f"filter(transform({cur}, _je{i}_{j} -> "
                   f"variant_get(_je{i}_{j}, {requote('$' + acc)}, "
                   f"'variant')), _jm{i}_{j} -> "
                   f"_jm{i}_{j} IS NOT NULL)")
    return cur


def _structural_rewrites(code: str, stash: list[str]) -> str:
    """Call-shape rewrites that need argument access (masked text)."""

    def _lit(arg: str) -> str | None:
        """If arg is exactly one string-literal placeholder, return its
        unquoted text, else None."""
        m = re.fullmatch(r"'\x00(\d+)\x00'", arg)
        if not m:
            return None
        return stash[int(m.group(1))][1:-1].replace("''", "'")

    def requote(text: str) -> str:
        """Emit a literal as a STASH PLACEHOLDER, not raw quoted text
        (r9, advice): later passes (_find_close/_split_top_level/
        greatest-least) rely on the invariant that string literals are
        atomic placeholders — a raw quoted delimiter containing a
        paren, e.g. split_part(s, ')', 1), made them mis-parse and
        emit unbalanced SQL. _unmask doubles backslashes on restore
        (Trino literals have no escapes), so callers pass text with
        SINGLE backslashes — regex escapes must NOT be pre-doubled."""
        stash.append("'" + text.replace("'", "''") + "'")
        return f"'\x00{len(stash) - 1}\x00'"

    # CAST(x AS VARCHAR(n)) — Trino TRUNCATES to n characters; Spark's
    # STRING is unbounded, so the faithful form wraps a substring.
    def _cast_varchar_n(cast_name):
        def fn(a):
            if len(a) != 1:
                return None
            m = _CAST_VARCHAR_N_RE.match(a[0])
            if m is None:
                return None
            return (f"substring({cast_name}({m.group(1)} AS STRING), "
                    f"1, {m.group(2)})")
        return fn

    code = _rewrite_calls(code, "cast", _cast_varchar_n("CAST"))
    code = _rewrite_calls(code, "try_cast", _cast_varchar_n("TRY_CAST"))

    # Trino random() → uniform double in [0, 1) = Spark rand(); but
    # random(n) → uniform INTEGER in [0, n), while Spark rand(n) treats
    # n as a SEED — a silent wrong-values trap, so the 1-arg form maps
    # to floor(rand() * n) and the 2-arg bounded form random(m, n)
    # (uniform integer in [m, n)) to the shifted equivalent.
    def _random_fn(a):
        if len(a) == 0:
            return "rand()"
        if len(a) == 1:
            return f"CAST(floor(rand() * ({a[0]})) AS BIGINT)"
        if len(a) == 2:
            return (f"(({a[0]}) + CAST(floor(rand() * "
                    f"(({a[1]}) - ({a[0]}))) AS BIGINT))")
        return None

    code = _rewrite_calls(code, "random", _random_fn)

    # Trino to_unixtime returns DOUBLE epoch seconds WITH the fraction;
    # Spark's unix_timestamp returns whole-second BIGINT, so the
    # fraction-preserving form goes through unix_micros.
    code = _rewrite_calls(
        code, "to_unixtime",
        lambda a: f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) / 1e6)"
        if len(a) == 1 else None)

    # Trino regexp_extract(s, p) returns the WHOLE match; Spark's
    # 3rd argument defaults to group 1, so the 2-arg form needs ", 0".
    code = _rewrite_calls(code, "regexp_extract",
                          lambda a: f"regexp_extract({', '.join(a)}, 0)"
                          if len(a) == 2 else None)
    # Same group-0 default for the _all form (Spark's 2-arg
    # regexp_extract_all errors on group-less patterns and silently
    # returns group 1 otherwise).
    code = _rewrite_calls(code, "regexp_extract_all",
                          lambda a: f"regexp_extract_all({', '.join(a)}, 0)"
                          if len(a) == 2 else None)
    # Trino sha256/sha512 return VARBINARY; Spark's sha2 returns the hex
    # STRING, so unhex restores binary-for-binary semantics (to_hex of
    # the result then round-trips exactly).
    code = _rewrite_calls(code, "sha256",
                          lambda a: f"unhex(sha2({a[0]}, 256))" if len(a) == 1 else None)
    code = _rewrite_calls(code, "sha512",
                          lambda a: f"unhex(sha2({a[0]}, 512))" if len(a) == 1 else None)
    # bitwise_*(a, b) → infix operators
    for name, op in (("bitwise_and", "&"), ("bitwise_or", "|"),
                     ("bitwise_xor", "^")):
        code = _rewrite_calls(code, name,
                              lambda a, op=op: f"(({a[0]}) {op} ({a[1]}))"
                              if len(a) == 2 else None)
    code = _rewrite_calls(code, "bitwise_not",
                          lambda a: f"(~({a[0]}))" if len(a) == 1 else None)
    # Trino MAP(keys_array, values_array) constructor → map_from_arrays
    # (Spark's own map() takes interleaved k1, v1, ...; Trino's MAP
    # always takes two arrays, so the 2-arg form is unambiguous).
    code = _rewrite_calls(code, "map",
                          lambda a: f"map_from_arrays({a[0]}, {a[1]})"
                          if len(a) == 2 else None)
    # CAST(x AS ROW(a T, ...)) named-row type (r8): lower the type
    # recursively to STRUCT<a: T', ...> — Trino and Spark both cast
    # row/struct fields by POSITION, so the semantics line up; the
    # target field names become the result's field names in both.
    def _cast_row_fn(a):
        if len(a) != 1:
            return None
        cm = re.match(r"(.+?)\s+AS\s+(ROW\s*\(.*)$", a[0],
                      re.IGNORECASE | re.DOTALL)
        if not cm:
            return None
        return (f"CAST({cm.group(1)} AS "
                f"{_trino_type_to_spark(cm.group(2))})")

    code = _rewrite_calls(code, "CAST", _cast_row_fn)
    code = _rewrite_calls(code, "TRY_CAST", _cast_row_fn)
    if re.search(r"\bAS\s+ROW\s*\(", code, re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "AS ROW(...) outside a plain CAST/TRY_CAST — rewrite with "
            "named_struct and a STRUCT<...> cast explicitly")
    # Trino ROW(a, b) anonymous-struct constructor → struct(a, b)
    # (fields get positional names in both engines); runs AFTER the
    # type-position CASTs above, so only constructors remain.
    code = _rewrite_calls(code, "row",
                          lambda a: f"struct({', '.join(a)})" if a else None)
    # Trino map_agg(k, v) aggregate → entries-collect + map build. (Rows
    # with a NULL key are kept by collect_list but map_from_entries
    # rejects NULL keys as Trino's map_agg does — same failure surface.)
    code = _rewrite_calls(code, "map_agg",
                          lambda a: "map_from_entries(collect_list("
                                    f"struct({a[0]}, {a[1]})))"
                          if len(a) == 2 else None)
    # Spark has no JSON type: json stays a string end-to-end, so Trino's
    # json_parse/json_format round-trip is the identity here.
    for name in ("json_parse", "json_format"):
        code = _rewrite_calls(code, name,
                              lambda a: f"({a[0]})" if len(a) == 1 else None)
    # Trino from_unixtime returns a TIMESTAMP; Spark's returns a STRING.
    # timestamp_seconds is the semantic match (epoch seconds → timestamp).
    code = _rewrite_calls(code, "from_unixtime",
                          lambda a: f"timestamp_seconds({a[0]})"
                          if len(a) == 1 else None)

    def _regex_quote(expr: str) -> str:
        """Runtime Pattern.quote for a COMPUTED delimiter (r9 —
        formerly refused): wrap in \\Q…\\E with any embedded \\E
        broken out exactly as java.util.regex.Pattern.quote does, so
        Spark's regex-splitting functions see a literal. Empty/NULL
        callers guard separately."""
        q_open = requote("\\Q")
        q_close = requote("\\E")
        fix = requote("\\E\\\\E\\Q")
        return (f"concat({q_open}, "
                f"replace({expr}, {q_close}, {fix}), {q_close})")

    # Trino split(s, delim) splits on a LITERAL delimiter; Spark's
    # second argument is a REGEX. Escape metachars when the delimiter
    # is a literal; a COMPUTED delimiter is runtime-quoted with
    # \\Q…\\E (r9) and the empty delimiter raises like Trino's
    # INVALID_FUNCTION_ARGUMENT.
    def _split_fn(a):
        if len(a) not in (2, 3):
            return None
        lit = _lit(a[1])
        rest = f", {a[2]}" if len(a) == 3 else ""
        if lit is not None:
            # Spark's SQL string literals consume one backslash layer
            # ('\.'→'.'); requote stashes the single-escaped regex and
            # _unmask doubles the backslashes on restore.
            escaped = _REGEX_META.sub(lambda m: "\\" + m.group(0), lit)
            return f"split({a[0]}, {requote(escaped)}{rest})"
        err = requote("split: the delimiter must not be empty")
        return (f"element_at(transform(array(({a[1]})), _sd -> "
                f"CASE WHEN length(_sd) = 0 THEN "
                f"CAST(raise_error({err}) AS ARRAY<STRING>) "
                f"ELSE split({a[0]}, {_regex_quote('_sd')}{rest}) "
                f"END), 1)")

    code = _rewrite_calls(code, "split", _split_fn)

    # split_part (wave 20, divergence audit): Spark's same-named
    # builtin returns '' when the index is past the last field; Trino
    # returns NULL — a silent value divergence (and nullif('') would
    # corrupt genuinely empty fields like 'a,,b' part 2). Literal
    # delimiters lower to try_element_at over a literal-escaped
    # split, which yields NULL past the end and '' for real empty
    # fields. Negative indexes count from the end here (Trino rejects
    # them — this front end is permissive, never wrong-valued). A
    # COMPUTED delimiter (r9, formerly refused) uses Spark's native
    # LITERAL split_part guarded by a parts-count check — replace()
    # removes exactly split's non-overlapping occurrences, so
    # (len(s) - len(replace)) / len(d) + 1 is the field count and
    # indexes past it return Trino's NULL instead of ''.
    def _split_part_fn(a):
        if len(a) != 3:
            return None
        lit = _lit(a[1])
        if lit is not None:
            escaped = _REGEX_META.sub(lambda m: "\\" + m.group(0), lit)
            return (f"try_element_at(split({a[0]}, {requote(escaped)}, "
                    f"-1), {a[2]})")
        err = requote("split_part: the delimiter must not be empty")
        return (
            f"element_at(transform(array(named_struct("
            f"'s', ({a[0]}), 'd', ({a[1]}), 'n', ({a[2]}))), _sp -> "
            f"CASE WHEN length(_sp.d) = 0 THEN "
            f"CAST(raise_error({err}) AS STRING) "
            f"WHEN _sp.n > (length(_sp.s) - length(replace(_sp.s, "
            f"_sp.d, {requote('')}))) div length(_sp.d) + 1 THEN NULL "
            f"ELSE split_part(_sp.s, _sp.d, _sp.n) END), 1)")

    code = _rewrite_calls(code, "split_part", _split_part_fn)

    # element_at (wave 20, divergence audit): Trino returns NULL when
    # an array index exceeds the length; Spark's ANSI element_at
    # RAISES there. try_element_at matches Trino on every edge we
    # checked: over-length index → NULL, missing map key → NULL,
    # index 0 → error in both.
    code = _rewrite_calls(
        code, "element_at",
        lambda a: f"try_element_at({a[0]}, {a[1]})"
        if len(a) == 2 else None)

    # log family (wave 20, divergence audit): Trino follows Java
    # Math.log — ln(0) = -Infinity, ln(negative) = NaN — while Spark
    # returns NULL for any non-positive input (verified; sqrt/acos/
    # power/exp already agree on IEEE specials). The wrapper restores
    # the IEEE values; NULL in → NULL out (no CASE branch matches).
    def _log_fn(name: str):
        def fn(a):
            if len(a) != 1:
                return None
            return (f"element_at(transform(array(CAST(({a[0]}) "
                    f"AS DOUBLE)), _lg -> CASE WHEN _lg > 0 "
                    f"THEN {name}(_lg) "
                    "WHEN _lg = 0 THEN CAST('-Infinity' AS DOUBLE) "
                    "WHEN _lg < 0 THEN CAST('NaN' AS DOUBLE) END), 1)")
        return fn

    # array_min/array_max (wave 20, divergence audit): Trino returns
    # NULL when the array CONTAINS a null element; Spark skips nulls
    # and returns the min/max of the rest — silently different values.
    def _array_extreme_fn(name: str):
        def fn(a):
            if len(a) != 1:
                return None
            return (f"element_at(transform(array(({a[0]})), _am -> "
                    "CASE WHEN exists(_am, _ae -> _ae IS NULL) "
                    f"THEN NULL ELSE {name}(_am) END), 1)")
        return fn

    code = _rewrite_calls(code, "array_min", _array_extreme_fn("array_min"))
    code = _rewrite_calls(code, "array_max", _array_extreme_fn("array_max"))

    # map_concat (wave 20, divergence audit): Trino keeps the value
    # from the LAST map holding a key; Spark's default dedup policy
    # ERRORS on any duplicate. Earlier maps are filtered to the keys
    # no later map holds, so the concat inputs are disjoint — last-wins
    # semantics without touching the session-wide dedup policy (which
    # would also relax map()/map_from_entries, where BOTH engines
    # reject duplicates).
    def _map_concat_fn(a):
        if len(a) < 2:
            return None
        parts = []
        for i, m in enumerate(a[:-1]):
            later = " OR ".join(f"map_contains_key({x}, _mk)"
                                for x in a[i + 1:])
            parts.append(f"map_filter({m}, (_mk, _mv) -> NOT ({later}))")
        parts.append(a[-1])
        return f"map_concat({', '.join(parts)})"

    code = _rewrite_calls(code, "map_concat", _map_concat_fn)

    # 2-arg log(b, x) = Math.log(x) / Math.log(b) in Trino — emitted
    # BEFORE the 1-arg pass so both ln() calls pick up the IEEE
    # wrapper. (b = 1 makes the divisor 0.0 — that lands in the
    # documented double-division divergence.)
    code = _rewrite_calls(
        code, "log",
        lambda a: f"(ln({a[1]}) / ln({a[0]}))" if len(a) == 2 else None)

    for _log_name in ("ln", "log2", "log10"):
        code = _rewrite_calls(code, _log_name, _log_fn(_log_name))

    # wave 13 (r8). split_to_map(s, entryDelim, kvDelim) →
    # str_to_map — same argument order, but Spark's delimiters are
    # REGEXES where Trino's are literals, so literal delimiters are
    # escaped exactly like split(); computed delimiters (r9) are
    # runtime-quoted with \\Q…\\E like split()'s.
    def _split_to_map_fn(a):
        if len(a) != 3:
            return None
        outs = [a[0]]
        for arg in a[1:]:
            lit = _lit(arg)
            if lit is not None:
                esc = _REGEX_META.sub(lambda m: "\\" + m.group(0), lit)
                outs.append(requote(esc))
            else:
                outs.append(_regex_quote(f"({arg})"))
        return f"str_to_map({', '.join(outs)})"

    code = _rewrite_calls(code, "split_to_map", _split_to_map_fn)

    # split_to_multimap(s, entryDelim, kvDelim) (r10, was a silent
    # unresolved-routine): map<string, array<string>> — values keep
    # entry order, keys first-appearance order; an entry without
    # exactly one kvDelim errors like Trino. Pure HOF codegen: split
    # to (k, v) structs (the same literal-delimiter escaping as
    # split_to_map), then group by distinct keys with an ordered
    # filter per key — O(keys × entries) per row, fine for the short
    # header/qs strings the function exists for.
    def _split_to_multimap_fn(a):
        if len(a) != 3:
            return None
        outs = []
        for arg in a[1:]:
            lit = _lit(arg)
            if lit is not None:
                esc = _REGEX_META.sub(lambda m: "\\" + m.group(0), lit)
                outs.append(requote(esc))
            else:
                outs.append(_regex_quote(f"({arg})"))
        ed, kd = outs
        err = requote("split_to_multimap: entry does not have exactly "
                      "one key-value delimiter")
        pairs = (
            f"transform(split({a[0]}, {ed}), _me -> "
            f"element_at(transform(array(split(_me, {kd})), _ps -> "
            f"CASE WHEN size(_ps) = 2 THEN "
            f"named_struct('k', element_at(_ps, 1), "
            f"'v', element_at(_ps, 2)) "
            f"ELSE named_struct('k', CAST(raise_error({err}) AS STRING), "
            f"'v', '') END), 1))")
        return _group_multimap(pairs)

    def _group_multimap(pairs: str) -> str:
        """array<struct<k, v>> → map<k, array<v>>: values in entry
        order, keys first-appearance order (shared by
        split_to_multimap and multimap_from_entries)."""
        return (
            f"element_at(transform(array({pairs}), _mp -> "
            f"element_at(transform(array(array_distinct("
            f"transform(_mp, _pe -> _pe.k))), _mk -> "
            f"map_from_arrays(_mk, transform(_mk, _kk -> "
            f"transform(filter(_mp, _pe -> _pe.k <=> _kk), "
            f"_pe -> _pe.v)))), 1)), 1)")

    code = _rewrite_calls(code, "split_to_multimap", _split_to_multimap_fn)

    # multimap_from_entries(array<row(K, V)>) (r10): the entries'
    # field NAMES are caller-defined, so each row is normalized to a
    # (k, v) struct POSITIONALLY via a singleton map_from_entries
    # (whose contract is field-order, not field-name), then grouped by
    # the shared multimap codegen. A NULL entry errors like Trino.
    def _multimap_from_entries_fn(a):
        if len(a) != 1:
            return None
        err = requote("multimap_from_entries: null entry")
        pairs = (
            f"transform(({a[0]}), _mm0 -> "
            f"element_at(transform(array(map_from_entries(array("
            f"IF(_mm0 IS NULL, raise_error({err}), _mm0)))), _mm -> "
            f"named_struct('k', element_at(map_keys(_mm), 1), "
            f"'v', element_at(map_values(_mm), 1))), 1))")
        return _group_multimap(pairs)

    code = _rewrite_calls(code, "multimap_from_entries",
                          _multimap_from_entries_fn)

    # map_union(m) (r10): aggregate union of maps. Trino documents an
    # ARBITRARY winner for duplicate keys; a deterministic engine
    # cannot be arbitrary, so this picks the SMALLEST (key, value)
    # entry per key — a legal instantiation that is stable across
    # partitionings and replays (AQE/speculation safe). Keys come out
    # in ascending order (Trino's map order is unspecified).
    def _map_union_fn(a):
        if len(a) != 1:
            return None
        return (
            f"element_at(transform(array(array_sort(flatten("
            f"collect_list(map_entries(({a[0]})))))), _ue -> "
            f"element_at(transform(array(array_distinct("
            f"transform(_ue, _e -> _e.key))), _uk -> "
            f"map_from_arrays(_uk, transform(_uk, _kk -> "
            f"element_at(transform(filter(_ue, _e -> _e.key <=> _kk), "
            f"_e -> _e.value), 1)))), 1)), 1)")

    code = _rewrite_calls(code, "map_union", _map_union_fn)

    # HyperLogLog surface (r10): Trino's approx_set/merge/cardinality
    # triple maps onto Spark's Apache-DataSketches HLL builtins. The
    # SKETCH BINARIES differ between engines (airlift HLL vs
    # DataSketches) and so may the estimates — same approximate
    # contract, engine-specific values (the approx_distinct
    # precedent). cardinality(<sketch expr>) is detected structurally
    # (Spark's own cardinality is array/map-typed); merge() can only
    # ever see HLL here because qdigest_agg/tdigest_agg refuse at
    # creation, so mapping it to hll_union_agg is type-sound.
    def _cardinality_fn(a):
        if len(a) != 1:
            return None
        inner = a[0].strip()
        if re.match(r"(?i)(hll_sketch_agg|hll_union_agg)\s*\(", inner):
            return f"hll_sketch_estimate({inner})"
        return None   # array/map cardinality — Spark builtin

    def _approx_set_fn(a):
        if len(a) == 1:
            return f"hll_sketch_agg({a[0]})"
        if len(a) == 2:
            # approx_set(x, e) — Trino's max-standard-error form.
            # HLL error ≈ 1.04/sqrt(2^lgK), so e maps structurally to
            # lgConfigK = ceil(log2((1.04/e)^2)), clamped to Spark's
            # DataSketches range [4, 21] (Trino validates e itself to
            # [0.0040625, 0.26] — same check here). Same
            # approx-divergence class as the 1-arg form: sketch
            # VALUES differ across engines, cardinality estimates are
            # bounds-tested. Non-literal error bounds refuse by name.
            import math
            try:
                e_val = float(a[1])
            except ValueError:
                raise TrinoSqlUnsupported(
                    "approx_set(x, e) requires a literal error bound "
                    "(the bound picks the sketch size at plan time)")
            if not 0.0040625 <= e_val <= 0.26:
                raise TrinoSqlUnsupported(
                    f"approx_set error bound {e_val} outside Trino's "
                    "[0.0040625, 0.26]")
            lg_k = max(4, min(21, math.ceil(math.log2((1.04 / e_val) ** 2))))
            return f"hll_sketch_agg({a[0]}, {lg_k})"
        return None

    code = _rewrite_calls(code, "approx_set", _approx_set_fn)
    code = _rewrite_calls(
        code, "merge",
        lambda a: f"hll_union_agg({a[0]})" if len(a) == 1 else None)
    code = _rewrite_calls(code, "cardinality", _cardinality_fn)
    # qdigest/tdigest READ PATH (r11): the composed forms —
    # value_at_quantile(qdigest_agg(x), p), values_at_quantiles(
    # tdigest_agg(x), ps), quantile_at_value(qdigest_agg(x), v) —
    # lower structurally onto the raw column: the quantile lookups
    # ride Spark's approx_percentile (approx_percentile-class
    # divergence: sketch VALUES differ across engines; the estimate
    # is bounds-tested in tests/test_bounds.py), and the inverse
    # lookup is the exact INCLUSIVE CDF avg(x <= v). Convention note
    # (r11 review): at a value carrying large point mass the
    # inclusive-vs-exclusive rank convention dominates any sketch
    # error — Trino's qdigest behavior at such boundary values is
    # unverified offline, so this is a documented convention choice,
    # not a bounded-error claim. A digest NOT consumed in the same
    # expression still refuses below — there are no portable
    # qdigest/tdigest sketch bytes in Spark.
    def _digest_inner(caller: str, arg: str) -> str:
        m = re.match(r"(?i)(qdigest_agg|tdigest_agg)\s*\(", arg)
        if not m:
            raise TrinoSqlUnsupported(
                f"{caller}() over a pre-built qdigest/tdigest value is "
                "not supported (no portable sketch bytes in Spark) — "
                "compose with qdigest_agg(x)/tdigest_agg(x) directly, "
                "or use approx_percentile")
        close = _find_close(arg, m.end() - 1)
        if arg[close + 1:].strip():
            raise TrinoSqlUnsupported(
                f"{caller}() over a digest expression is only "
                "supported directly on qdigest_agg(x)/tdigest_agg(x)")
        inner = [s.strip() for s in _split_top_level(arg[m.end():close])]
        if len(inner) != 1:
            raise TrinoSqlUnsupported(
                f"{m.group(1)}() with weight/accuracy arguments is not "
                "supported (Spark's percentile sketch is unweighted)")
        return inner[0]

    def _vaq_fn(caller):
        def fn(a):
            if len(a) != 2:
                return None
            x = _digest_inner(caller, a[0])
            return f"approx_percentile(({x}), ({a[1]}))"
        return fn

    def _qav_fn(a):
        if len(a) != 2:
            return None
        x = _digest_inner("quantile_at_value", a[0])
        return (f"avg(IF(({x}) <= ({a[1]}), CAST(1 AS DOUBLE), "
                f"CAST(0 AS DOUBLE)))")

    code = _rewrite_calls(code, "value_at_quantile",
                          _vaq_fn("value_at_quantile"))
    code = _rewrite_calls(code, "values_at_quantiles",
                          _vaq_fn("values_at_quantiles"))
    code = _rewrite_calls(code, "quantile_at_value", _qav_fn)

    def _qdigest_refusal(name):
        def fn(a):
            raise TrinoSqlUnsupported(
                f"{name}() outside value_at_quantile/"
                "values_at_quantiles/quantile_at_value is not supported "
                "(no portable qdigest/tdigest sketch bytes in Spark — "
                "use approx_percentile for quantile estimation)")
        return fn

    for _qd in ("qdigest_agg", "tdigest_agg"):
        code = _rewrite_calls(code, _qd, _qdigest_refusal(_qd))

    # max(x, n) / min(x, n) (r10): Trino's top/bottom-n aggregate
    # forms returning array<T> (the 1-arg forms pass through to
    # Spark's own max/min). collect_list drops NULLs like Trino.
    def _minmax_n(desc: bool):
        order = "false" if desc else "true"

        def fn(a):
            if len(a) != 2:
                return None
            return (f"slice(sort_array(collect_list(({a[0]})), {order}), "
                    f"1, ({a[1]}))")
        return fn

    # max(x, n) OVER (...) is legal in Trino but the collect_list
    # rewrite below is aggregate-only — refuse the window form by name
    # (r11) instead of letting it die with a confusing analysis error.
    for _mm_name in ("max", "min"):
        for _mm in re.finditer(r"\b" + _mm_name + r"\s*\(", code,
                               re.IGNORECASE):
            _mm_close = _find_close(code, _mm.end() - 1)
            _mm_args = _split_top_level(code[_mm.end():_mm_close])
            if (len(_mm_args) == 2 and
                    re.match(r"\s*OVER(\s*\(|\s+[A-Za-z_])",
                             code[_mm_close + 1:], re.IGNORECASE)):
                raise TrinoSqlUnsupported(
                    f"{_mm_name}(x, n) as a window function is not "
                    "supported (the top-n rewrite is aggregate-only; "
                    "use it in GROUP BY, or rank() + collect)")

    code = _rewrite_calls(code, "max", _minmax_n(desc=True))
    code = _rewrite_calls(code, "min", _minmax_n(desc=False))
    # from_iso8601_timestamp/date: Spark's string→timestamp/date cast
    # accepts ISO-8601 ('T' separator, optional offset) and resolves
    # offsets to the session-zone instant — the same instant Trino
    # returns (Trino keeps the offset as a tz field; this engine's
    # timestamps are NTZ wall-times, the q_trino_sql_tz precedent).
    code = _rewrite_calls(code, "from_iso8601_timestamp",
                          lambda a: f"CAST({a[0]} AS TIMESTAMP)"
                          if len(a) == 1 else None)
    code = _rewrite_calls(code, "from_iso8601_date",
                          lambda a: f"CAST({a[0]} AS DATE)"
                          if len(a) == 1 else None)
    # parse_datetime(s, fmt): Trino takes a Joda-Time pattern; the
    # y/M/d/H/m/s/S/E/a core is identical in Java time, so a LITERAL
    # pattern built only of those passes through to to_timestamp.
    # Computed patterns refuse (can't validate the Joda-only letters),
    # and any other pattern letter refuses BY NAME (wave 20 — Joda
    # Z/z zone handling and x/w week fields differ from Java's; a
    # pass-through would silently re-interpret them).
    def _parse_datetime_fn(a):
        if len(a) != 2:
            return None
        fmt = _lit(a[1])
        if fmt is None:
            raise TrinoSqlUnsupported(
                "parse_datetime() needs a literal format pattern")
        bare = re.sub(r"'[^']*'", "", fmt)  # quoted literals are inert
        bad = set(re.findall(r"[A-Za-z]", bare)) - set("yMdHmsSEa")
        if bad:
            raise TrinoSqlUnsupported(
                f"parse_datetime: Joda pattern letters {sorted(bad)} "
                "have no exact Java-pattern equivalent")
        return f"to_timestamp({a[0]}, {a[1]})"

    code = _rewrite_calls(code, "parse_datetime", _parse_datetime_fn)

    # json_size(j, path): number of members of the object/array at
    # path, 0 for a scalar (Trino's contract), NULL for no match. The
    # '['/'{' probes compare ascii CODES (91/123) — a raw bracket
    # literal in masked code would corrupt later bracket-depth scans.
    def _json_size_fn(a):
        if len(a) != 2:
            return None
        g = f"get_json_object({a[0]}, {a[1]})"
        return (f"(CASE WHEN {g} IS NULL THEN NULL "
                f"WHEN ascii(left({g}, 1)) = 91 "
                f"THEN json_array_length({g}) "
                f"WHEN ascii(left({g}, 1)) = 123 "
                f"THEN size(json_object_keys({g})) "
                f"ELSE 0 END)")

    code = _rewrite_calls(code, "json_size", _json_size_fn)

    # wave 14 (r8): Trino's greatest/least return NULL when ANY
    # argument is NULL; Spark's skip NULLs — a silent value divergence
    # if passed through. The guard re-evaluates arguments (scalar
    # expressions; cost negligible vs silent wrong answers).
    def _null_strict_fn(name):
        def fn(a):
            if len(a) < 2:
                return None
            checks = " OR ".join(f"({x}) IS NULL" for x in a)
            return (f"(CASE WHEN {checks} THEN NULL "
                    f"ELSE {name}({', '.join(a)}) END)")
        return fn

    code = _rewrite_calls(code, "greatest", _null_strict_fn("greatest"))
    code = _rewrite_calls(code, "least", _null_strict_fn("least"))

    # Trino regexp_split(s, p) → Spark split(s, p) (both regex). MUST
    # run after the literal-split rewrite above, or the emitted split()
    # would get its regex delimiter escaped as a literal.
    code = _rewrite_calls(code, "regexp_split",
                          lambda a: f"split({', '.join(a)})"
                          if len(a) == 2 else None)
    # Trino 2-arg regexp_replace removes matches; Spark requires the
    # replacement argument.
    code = _rewrite_calls(code, "regexp_replace",
                          lambda a: f"regexp_replace({a[0]}, {a[1]}, '')"
                          if len(a) == 2 else None)
    # none_match(arr, f) → NOT exists(arr, f)
    code = _rewrite_calls(code, "none_match",
                          lambda a: f"(NOT exists({a[0]}, {a[1]}))"
                          if len(a) == 2 else None)
    # geometric_mean(x) = exp(avg(ln(x))) — guarded: Spark's ln of a
    # non-positive value yields NULL (which avg would silently SKIP),
    # while Trino accumulates Java Math.log: a NEGATIVE input gives NaN,
    # but log(0) = -Infinity, so zeros (with no negatives) give
    # exp(-Inf) = 0.0 — the r6 guard mapped both to NaN (r7 split).
    code = _rewrite_calls(
        code, "geometric_mean",
        lambda a: (f"(CASE WHEN min({a[0]}) < 0 THEN CAST('NaN' AS DOUBLE) "
                   f"WHEN min({a[0]}) = 0 THEN CAST(0 AS DOUBLE) "
                   f"ELSE exp(avg(ln({a[0]}))) END)")
        if len(a) == 1 else None)
    # infinity()/nan() constants
    code = _rewrite_calls(code, "infinity",
                          lambda a: "CAST('Infinity' AS DOUBLE)"
                          if len(a) == 1 and a[0] == "" else None)
    code = _rewrite_calls(code, "nan",
                          lambda a: "CAST('NaN' AS DOUBLE)"
                          if len(a) == 1 and a[0] == "" else None)

    # Trino truncate(x) rounds toward zero keeping the DOUBLE type;
    # Spark floor/ceil return BIGINT, so re-cast. The 2-arg decimal-
    # scale form truncate(x, n) scales by 10^n, truncates toward zero,
    # and scales back — the same multiply/trunc/divide sequence Trino's
    # own DOUBLE implementation performs, so the floating results agree
    # (|x|·10^n must fit a BIGINT, as in Trino).
    def _truncate_fn(a):
        if len(a) == 1:
            return (f"CAST(CASE WHEN ({a[0]}) < 0 THEN ceil({a[0]}) "
                    f"ELSE floor({a[0]}) END AS DOUBLE)")
        if len(a) == 2:
            scaled = f"(({a[0]}) * power(10, ({a[1]})))"
            return (f"CAST(CASE WHEN ({a[0]}) < 0 THEN ceil({scaled}) "
                    f"ELSE floor({scaled}) END / power(10, ({a[1]})) "
                    "AS DOUBLE)")
        return None

    code = _rewrite_calls(code, "truncate", _truncate_fn)

    # ---- wave 15 (r8): aggregate/array/string breadth. The collect
    # results are bound ONCE as lambda variables (transform(array(agg),
    # x -> …) — aggregates may not appear inside lambda bodies, and
    # the binding also avoids re-evaluating the buffer per element.
    code = _rewrite_calls(
        code, "histogram",
        lambda a: (
            f"element_at(transform(array(collect_list({a[0]})), _hl -> "
            "map_from_entries(transform(array_distinct(_hl), _hv -> "
            "struct(_hv, CAST(size(filter(_hl, _hx -> _hx <=> _hv)) "
            "AS BIGINT))))), 1)")
        if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "multimap_agg",
        lambda a: (
            "element_at(transform(array(collect_list(named_struct("
            f"'k', {a[0]}, 'v', {a[1]}))), _ml -> "
            "map_from_entries(transform("
            "array_distinct(transform(_ml, _me -> _me.k)), _kk -> "
            "struct(_kk, transform(filter(_ml, _me -> _me.k <=> _kk), "
            "_me -> _me.v))))), 1)")
        if len(a) == 2 else None)

    def _hamming_fn(a):
        if len(a) != 2:
            return None
        x, y = f"({a[0]})", f"({a[1]})"
        return (
            f"(CASE WHEN length({x}) <> length({y}) THEN "
            "CAST(raise_error('hamming_distance: the input strings must "
            "have the same length') AS BIGINT) "
            f"WHEN length({x}) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size(filter(sequence(1, length({x})), _hp -> "
            f"substring({x}, _hp, 1) <> substring({y}, _hp, 1))) "
            "AS BIGINT) END)")

    code = _rewrite_calls(code, "hamming_distance", _hamming_fn)

    def _bit_count_fn(a):
        # Trino bit_count(x, bits) counts ones in the bits-wide two's
        # complement and VALIDATES x fits; Spark's is 64-bit 1-arg.
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            return None
        b = int(a[1])
        if not 2 <= b <= 64:
            return None
        x = f"({a[0]})"
        if b == 64:
            return f"CAST(bit_count({x}) AS BIGINT)"
        lo, hi = -(1 << (b - 1)), (1 << (b - 1)) - 1
        mask = (1 << b) - 1
        return (
            f"(CASE WHEN {x} BETWEEN {lo} AND {hi} "
            f"THEN CAST(bit_count({x} & {mask}) AS BIGINT) "
            f"ELSE CAST(raise_error('bit_count: value must be "
            f"representable in {b} bits') AS BIGINT) END)")

    code = _rewrite_calls(code, "bit_count", _bit_count_fn)

    def _ngrams_fn(a):
        # n > cardinality yields the single whole-array n-gram (Trino).
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            return None
        n = int(a[1])
        if n < 1:
            return None
        return (
            f"element_at(transform(array(({a[0]})), _na -> "
            f"CASE WHEN size(_na) <= {n} THEN array(_na) "
            f"ELSE transform(sequence(1, size(_na) - {n} + 1), "
            f"_ni -> slice(_na, _ni, {n})) END), 1)")

    code = _rewrite_calls(code, "ngrams", _ngrams_fn)

    def _json_array_contains_fn(a):
        if len(a) != 2:
            return None
        v = a[1].strip()
        if re.fullmatch(r"-?\d+(\.\d+)?", v):
            et, cast_v = "double", f"CAST({v} AS DOUBLE)"
        elif re.fullmatch(r"'(?:[^']|'')*'", v) or re.fullmatch(
                "'\x00\\d+\x00'", v):   # string literal (masked form)
            et, cast_v = "string", v
        elif v.upper() in ("TRUE", "FALSE"):
            et, cast_v = "boolean", v.lower()
        else:
            raise TrinoSqlUnsupported(
                "json_array_contains with a non-literal search value "
                "(the element type drives the JSON decode)")
        return (
            f"element_at(transform(array(from_json(({a[0]}), "
            f"'array<{et}>')), _ja -> CASE WHEN _ja IS NULL THEN NULL "
            f"ELSE coalesce(array_contains(_ja, {cast_v}), false) END), "
            "1)")

    code = _rewrite_calls(code, "json_array_contains",
                          _json_array_contains_fn)

    def _cosine_similarity_fn(a):
        # Trino's array form (the map-vector form stays unsupported —
        # it would need sparse-map alignment, and Spark's analyzer
        # rejects the map inputs loudly anyway).
        if len(a) != 2:
            return None
        x, y = f"({a[0]})", f"({a[1]})"
        def ssq(v):
            return (f"aggregate(transform({v}, _cx -> _cx * _cx), "
                    "CAST(0 AS DOUBLE), (_ca, _cv) -> _ca + _cv)")
        return (
            f"(aggregate(zip_with({x}, {y}, (_cx, _cy) -> _cx * _cy), "
            "CAST(0 AS DOUBLE), (_ca, _cv) -> _ca + _cv) "
            f"/ (sqrt({ssq(x)}) * sqrt({ssq(y)})))")

    code = _rewrite_calls(code, "cosine_similarity", _cosine_similarity_fn)

    def _named_unsupported(name, why):
        def fn(a):
            raise TrinoSqlUnsupported(f"{name}() is not supported ({why})")
        return fn

    # approx_most_frequent(buckets, value, capacity) → the EXACT top-
    # `buckets` value→count map (count DESC, value ASC tie-break) — an
    # exact answer satisfies every error bound the Trino sketch
    # permits, and is deterministic where the sketch is not. The
    # capacity argument is the sketch's memory knob and has no effect
    # on an exact computation; buckets must be a literal so the slice
    # bound is plan-constant. Collect buffers bind once as lambda
    # variables (the wave-15 rule).
    def _approx_most_frequent_fn(a):
        if len(a) != 3:
            return None
        if not re.fullmatch(r"\d+", a[0].strip()):
            raise TrinoSqlUnsupported(
                "approx_most_frequent: the bucket count must be a "
                "literal integer")
        return (
            f"element_at(transform(array(collect_list({a[1]})), _hl -> "
            "map_from_entries(slice(array_sort("
            "transform(array_distinct(_hl), _hv -> "
            "struct(_hv AS k, CAST(size(filter(_hl, _hx -> _hx <=> _hv)) "
            "AS BIGINT) AS c)), "
            "(_hx, _hy) -> CASE WHEN _hx.c > _hy.c THEN -1 "
            "WHEN _hx.c < _hy.c THEN 1 WHEN _hx.k < _hy.k THEN -1 "
            "WHEN _hx.k > _hy.k THEN 1 ELSE 0 END), "
            f"1, {a[0].strip()}))), 1)")

    code = _rewrite_calls(code, "approx_most_frequent",
                          _approx_most_frequent_fn)
    code = _rewrite_calls(
        code, "numeric_histogram",
        _named_unsupported("numeric_histogram",
                           "input-order-dependent streaming bucketer; "
                           "use width_bucket + count (q_agg_histogram) "
                           "or the deterministic equi-depth twin "
                           "(q_agg_numeric_histogram_det)"))
    # normalize(s[, form]) — UAX #15 Unicode normalization. Spark SQL
    # has no builtin, so this lowers onto the session-registered
    # trino_normalize pandas UDF (trino_compat.register_unicode_
    # normalize; execute_trino and the governed SQL path register it
    # on demand). The form is a bare keyword in Trino's grammar, not a
    # string — anything outside the four standard forms is refused.
    def _normalize_fn(a):
        if len(a) == 1:
            form = "NFC"
        elif len(a) == 2 and re.fullmatch(r"(?i)NFK?[CD]", a[1].strip()):
            form = a[1].strip().upper()
        else:
            raise TrinoSqlUnsupported(
                "normalize: the form must be the bare keyword NFC, NFD, "
                "NFKC or NFKD")
        return f"trino_normalize({a[0]}, '{form}')"

    code = _rewrite_calls(code, "normalize", _normalize_fn)

    # chr(cp) — the Unicode codepoint character. Spark's char() wraps
    # at 256 (chr(8364) would silently emit \x04 instead of '€'), so a
    # literal codepoint becomes the exact character, masked into the
    # stash like any source literal (so later rewrite passes can never
    # mis-split on a synthesized quote/comma, and _unmask applies the
    # same backslash contract as user literals). A non-literal
    # codepoint lowers to UTF-8 byte construction — pure arithmetic +
    # decode, whole-stage codegen, the codepoint bound once via the
    # let-binding transform. Out-of-range codepoints yield NULL/garbage
    # where Trino raises (documented divergence; Trino-valid inputs
    # agree exactly).
    def _chr_fn(a):
        if len(a) != 1:
            return None
        arg = a[0].strip()
        if re.fullmatch(r"\d+", arg):
            cp = int(arg)
            if not (0 <= cp <= 0x10FFFF) or 0xD800 <= cp <= 0xDFFF:
                raise TrinoSqlUnsupported(
                    f"chr({cp}): not a valid Unicode codepoint")
            stash.append("'" + chr(cp).replace("'", "''") + "'")
            return f"'\x00{len(stash) - 1}\x00'"
        b = ("CASE WHEN _cp < 128 THEN lpad(hex(_cp), 2, '0') "
             "WHEN _cp < 2048 THEN hex(192 + _cp DIV 64) "
             "|| hex(128 + _cp % 64) "
             "WHEN _cp < 65536 THEN hex(224 + _cp DIV 4096) "
             "|| hex(128 + _cp DIV 64 % 64) || hex(128 + _cp % 64) "
             "ELSE hex(240 + _cp DIV 262144) "
             "|| hex(128 + _cp DIV 4096 % 64) "
             "|| hex(128 + _cp DIV 64 % 64) || hex(128 + _cp % 64) END")
        return (f"element_at(transform(array(CAST(({arg}) AS BIGINT)), "
                f"_cp -> decode(unhex({b}), 'UTF-8')), 1)")

    code = _rewrite_calls(code, "chr", _chr_fn)

    def _combinations_fn(a):
        # n-element subsets in Trino's index-lexicographic order; the
        # nested index transforms stay whole-stage codegen. n is
        # literal 1..3 here (Trino caps at 5; 4-5 raise named).
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            return None
        n = int(a[1])
        arr = f"({a[0]})"
        if n == 1:
            return f"transform({arr}, _c0 -> array(_c0))"
        # size < n yields a typed empty array-of-arrays (transform of
        # an empty slice — sequence(1, n<1) would DESCEND, the pinned
        # r8 lesson, so every sequence below is CASE-guarded).
        empty = "transform(slice(_ca, 1, 0), _x -> array(_x))"
        if n == 2:
            return (
                f"element_at(transform(array({arr}), _ca -> "
                f"CASE WHEN size(_ca) < 2 THEN {empty} ELSE "
                "flatten(transform(sequence(1, size(_ca) - 1), _i -> "
                "transform(sequence(_i + 1, size(_ca)), _j -> "
                "array(_ca[_i - 1], _ca[_j - 1])))) END), 1)")
        if n == 3:
            return (
                f"element_at(transform(array({arr}), _ca -> "
                f"CASE WHEN size(_ca) < 3 THEN {empty} ELSE "
                "flatten(flatten(transform(sequence(1, size(_ca) - 2), "
                "_i -> transform(sequence(_i + 1, size(_ca) - 1), _j -> "
                "transform(sequence(_j + 1, size(_ca)), _k -> "
                "array(_ca[_i - 1], _ca[_j - 1], _ca[_k - 1])))))) "
                "END), 1)")
        raise TrinoSqlUnsupported(
            f"combinations(arr, {n}) — supported for n in 1..3 (the "
            "expansion is C(size, n); enumerate larger subsets with an "
            "explicit join)")

    code = _rewrite_calls(code, "combinations", _combinations_fn)

    # reduce_agg(x, s0, input_fn, combine_fn): Trino REQUIRES the
    # functions to be commutative/associative, so folding the collected
    # inputs sequentially with input_fn is semantically identical (the
    # combiner exists only for partial-state merging).
    code = _rewrite_calls(
        code, "reduce_agg",
        lambda a: (f"aggregate(collect_list({a[0]}), {a[1]}, {a[2]})")
        if len(a) == 4 else None)

    # URL family → Spark parse_url parts.
    for name, part in (("url_extract_protocol", "PROTOCOL"),
                       ("url_extract_host", "HOST"),
                       ("url_extract_path", "PATH"),
                       ("url_extract_query", "QUERY"),
                       ("url_extract_fragment", "REF")):
        code = _rewrite_calls(
            code, name,
            lambda a, part=part: f"parse_url({a[0]}, '{part}')"
            if len(a) == 1 else None)
    # Trino url_extract_port returns BIGINT. Spark 4's parse_url PORT
    # part yields NULL (the java.net.URI-based extractor dropped it), so
    # the port is taken by regex from the authority instead.
    code = _rewrite_calls(
        code, "url_extract_port",
        lambda a: ("CAST(nullif(regexp_extract("
                   f"{a[0]}, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?"
                   "[^/:?#]*:([0-9]+)', 1), '') AS BIGINT)")
        if len(a) == 1 else None)
    code = _rewrite_calls(code, "url_extract_parameter",
                          lambda a: f"parse_url({a[0]}, 'QUERY', {a[1]})"
                          if len(a) == 2 else None)
    # UTF-8 codec pair
    code = _rewrite_calls(code, "to_utf8",
                          lambda a: f"encode({a[0]}, 'UTF-8')"
                          if len(a) == 1 else None)
    code = _rewrite_calls(code, "from_utf8",
                          lambda a: f"decode({a[0]}, 'UTF-8')"
                          if len(a) == 1 else None)

    # Trino array_agg KEEPS NULL elements; Spark collect_list drops
    # them — the faithful form collects struct-wrapped values (struct
    # fields preserve NULLs) and unwraps. The ORDER BY variant sorts the
    # (key, value) structs before unwrapping (array_sort orders by the
    # first field); a bare DESC on a single key reverses. DISTINCT
    # raises: collect_set also drops NULLs and Trino's dedup keeps one.
    def _array_agg_fn(a):
        if len(a) != 1:
            return None
        arg = a[0]
        dm = re.match(r"DISTINCT\b\s*(.+)$", arg, re.IGNORECASE | re.DOTALL)
        if dm:
            rest = dm.group(1)
            om2 = re.match(r"(.+?)\s+ORDER\s+BY\s+(.+?)(?:\s+(ASC|DESC))?$",
                           rest, re.IGNORECASE | re.DOTALL)
            # collect_set drops NULLs (Trino's dedup keeps one), so
            # dedup the NULL-preserving struct-collect instead.
            dedup = ("array_distinct(transform(collect_list("
                     "named_struct('v', {})), s -> s.v))")
            if om2 is None:
                return dedup.format(rest)
            val, key, direction = (om2.group(1), om2.group(2),
                                   (om2.group(3) or "ASC").upper())
            if key.strip() != val.strip():
                raise TrinoSqlUnsupported(
                    "array_agg(DISTINCT x ORDER BY y) with y != x: "
                    "dedup + foreign-key ordering — rewrite explicitly")
            # Sorting AFTER dedup: Spark's array_sort is ASC NULLS LAST,
            # matching Trino's default null ordering; reverse() gives
            # DESC NULLS FIRST — also Trino's DESC default.
            body = f"array_sort({dedup.format(val)})"
            return f"reverse({body})" if direction == "DESC" else body
        if re.search(r"\bNULLS\s+(FIRST|LAST)\b", arg, re.IGNORECASE):
            raise TrinoSqlUnsupported(
                "array_agg(... ORDER BY ... NULLS FIRST/LAST): explicit "
                "null placement in the struct sort — rewrite explicitly")
        om = re.match(r"(.+?)\s+ORDER\s+BY\s+(.+?)(?:\s+(ASC|DESC))?$",
                      arg, re.IGNORECASE | re.DOTALL)
        if not om:
            return (f"transform(collect_list(named_struct('v', {arg})), "
                    "s -> s.v)")
        val, key, direction = om.group(1), om.group(2), (om.group(3) or "ASC")
        if "," in key:
            raise TrinoSqlUnsupported(
                "array_agg(... ORDER BY k1, k2): multi-key ordering — "
                "rewrite with a struct sort explicitly")
        # Null sort keys (r7): Spark's struct ordering puts null fields
        # FIRST, Trino sorts nulls as LARGER than any value (NULLS LAST
        # ascending; FIRST after the DESC reverse) — lead with an
        # is-null discriminator so the Trino placement wins.
        body = (f"array_sort(collect_list(named_struct("
                f"'n', {key} IS NULL, 'k', {key}, 'v', {val})))")
        if direction.upper() == "DESC":
            body = f"reverse({body})"
        return f"transform({body}, s -> s.v)"

    code = _rewrite_calls(code, "array_agg", _array_agg_fn)

    # SQL/JSON json_value with a LITERAL path. Plain member/subscript
    # chains delegate to get_json_object for the scalar TEXT (exact
    # source slices — no number re-canonicalization), gated by a
    # VARIANT scalar-ness check: Trino's json_value ERRORS on an
    # array/object item, which the default NULL ON ERROR turns into
    # NULL, while get_json_object would return the item's JSON text
    # (r10 fix of a silent divergence). Chains with one [*] and an
    # optional ?(...) filter lower through _jsonpath_wildcard_matches:
    # exactly one matched item → its scalar value (strings unquoted,
    # numbers/booleans in to_json canonical text), zero → NULL ON
    # EMPTY, several or a non-scalar item → error → NULL ON ERROR.
    # A non-literal path or an explicit handler clause raises.
    def _json_value_scalar(vexpr: str, text: str | None = None) -> str:
        """Render the VARIANT item ``vexpr`` the way json_value does:
        NULL for SQL NULL / JSON null / array / object; the exact
        ``text`` (when given — the get_json_object slice) or the
        to_json canonical text otherwise, unquoted for strings."""
        out = text if text is not None else (
            "CASE WHEN schema_of_variant(_mv) = 'STRING' "
            "THEN try_cast(_mv AS STRING) ELSE to_json(_mv) END")
        return (f"element_at(transform(array({vexpr}), _mv -> "
                f"CASE WHEN _mv IS NULL THEN NULL "
                f"WHEN schema_of_variant(_mv) = 'VOID' THEN NULL "
                f"WHEN schema_of_variant(_mv) LIKE 'ARRAY%' "
                f"OR schema_of_variant(_mv) LIKE 'OBJECT%' "
                f"OR schema_of_variant(_mv) LIKE 'STRUCT%' THEN NULL "
                f"ELSE {out} END), 1)")

    def _json_path_fn(a):
        if len(a) != 2:
            return None
        lit = _lit(a[1])
        if lit is None:
            # r9 (advice close-out): name the clause when the refusal
            # is an explicit ON EMPTY / ON ERROR / RETURNING — with the
            # DEFAULT clauses (NULL ON EMPTY, NULL ON ERROR) the
            # get_json_object lowering is faithful even in strict mode
            # (Trino turns the strict-mode structural error into NULL);
            # an explicit ERROR/DEFAULT handler would change behavior,
            # so it must refuse VISIBLY rather than lower silently.
            cm = re.search(r"\bON\s+(?:EMPTY|ERROR)\b|\bRETURNING\b"
                           r"|\bPASSING\b", a[1], re.IGNORECASE)
            if cm:
                raise TrinoSqlUnsupported(
                    f"json_value with an explicit {cm.group(0).upper()} "
                    "clause — only the defaults (NULL ON EMPTY, NULL ON "
                    "ERROR) lower faithfully; ERROR/DEFAULT handlers "
                    "would need runtime raise semantics Spark's "
                    "get_json_object cannot express")
            raise TrinoSqlUnsupported(
                "json_value/json_query need a literal JSON path")
        path = lit.strip()
        strict = bool(re.match(r"strict\b", path, re.IGNORECASE))
        path = re.sub(r"^(?:lax|strict)\s+", "", path,
                      flags=re.IGNORECASE).strip()
        if re.fullmatch(r"\$(?:\.\w+|\[\d+\])*", path):
            # r7: a strict path that is a plain member/subscript chain
            # differs from lax ONLY in erroring on structural mismatch,
            # and json_value's default NULL ON ERROR maps that error to
            # the same NULL the lax empty sequence produces — one
            # lowering serves both modes.
            head = (f"variant_get(try_parse_json({a[0]}), "
                    f"{requote(path)}, 'variant')")
            return _json_value_scalar(
                head, text=f"get_json_object({a[0]}, {requote(path)})")
        # wildcard/[last]/filter paths: the helper carries the full
        # strict semantics (r11 — no auto-wrap, structural errors →
        # NULL matches → NULL ON ERROR, strict filter atoms).
        matches = _jsonpath_wildcard_matches(a[0], path, requote,
                                             "json_value", strict=strict)
        if matches is None:
            raise TrinoSqlUnsupported(
                "json_value path with item methods, several filters, "
                "or a filter not attached to a [*] step — plain "
                "member/subscript chains or [*] chains with at most "
                "one (possibly compound/parenthesized/negated) "
                "comparison-or-exists filter are the supported "
                "surface")
        one = (f"element_at(transform(array({matches}), _ms -> "
               f"CASE WHEN _ms IS NULL OR size(_ms) <> 1 THEN NULL "
               f"ELSE element_at(_ms, 1) END), 1)")
        return _json_value_scalar(one)

    code = _rewrite_calls(code, "json_value", _json_path_fn)

    # json_exists (r10): TRUE iff the path selects at least one item.
    # A JSON null item EXISTS (VOID variant, non-NULL); a missing
    # member is the lax empty sequence → FALSE; malformed JSON input
    # is an input-conversion error → FALSE (the default FALSE ON
    # ERROR); a NULL document propagates NULL. Strict mode: [*] over
    # a non-array is a structural ERROR → FALSE ON ERROR (the helper's
    # strict flag — NOT lax auto-wrap, which would return TRUE);
    # strict missing members agree under the default handler (error →
    # FALSE, same observable as the lax empty sequence), and r11 makes
    # the !/exists filter connectives strict-aware too (missing member
    # → UNKNOWN inside the filter, so !(...) drops where lax keeps).
    def _json_exists_fn(a):
        if len(a) != 2:
            return None
        lit = _lit(a[1])
        if lit is None:
            cm = re.search(r"\b(?:TRUE|FALSE|UNKNOWN|ERROR)\s+ON\s+"
                           r"ERROR\b|\bPASSING\b", a[1], re.IGNORECASE)
            if cm:
                raise TrinoSqlUnsupported(
                    f"json_exists with an explicit {cm.group(0).upper()}"
                    " clause — only the default (FALSE ON ERROR) "
                    "lowers faithfully")
            raise TrinoSqlUnsupported(
                "json_exists needs a literal JSON path")
        strict = bool(re.match(r"strict\b", lit.strip(), re.IGNORECASE))
        path = re.sub(r"^(?:lax|strict)\s+", "", lit.strip(),
                      flags=re.IGNORECASE).strip()
        if re.fullmatch(r"\$(?:\.\w+|\[\d+\])*", path):
            found = (f"variant_get(try_parse_json({a[0]}), "
                     f"{requote(path)}, 'variant') IS NOT NULL")
        else:
            matches = _jsonpath_wildcard_matches(a[0], path, requote,
                                                 "json_exists",
                                                 strict=strict)
            if matches is None:
                raise TrinoSqlUnsupported(
                    "json_exists path with item methods, several "
                    "filters, or a filter not attached to a [*] step "
                    "— plain chains or [*] chains with at most one "
                    "filter are the supported surface")
            found = (f"element_at(transform(array({matches}), _ms -> "
                     f"coalesce(size(_ms), 0) > 0), 1)")
        return (f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
                f"ELSE {found} END)")

    code = _rewrite_calls(code, "json_exists", _json_exists_fn)

    # json_query (r9, extended r10): returns JSON TEXT (KEEP QUOTES
    # default — string items stay quoted, so get_json_object's scalar
    # unquoting is NOT faithful here). Lowered through Spark's VARIANT
    # type: to_json(variant_get(parse_json(x), path)) reproduces exact
    # JSON item text. [*] chains (any number of steps) go through
    # _jsonpath_wildcard_matches (lax auto-wrap + member unwrap,
    # strict error semantics, full ?(...) predicate grammar); the
    # .size()/.type()/.double() terminal methods render the items.
    # All three wrapper forms:
    #   WITHOUT (default): one item → its text; empty/multi → NULL
    #     (NULL ON EMPTY / NULL ON ERROR defaults);
    #   WITH [UNCONDITIONAL]: always '[items…]', empty → NULL;
    #   WITH CONDITIONAL: single array/object item bare, else wrapped.
    # Other item methods and non-default clauses keep the named error.
    def _json_query_fn(a):
        if len(a) != 2:
            return None
        wm = _JSON_ARG_WRAPPER_RE.match(a[1].strip())
        lit = _lit(wm.group("ph")) if wm else None
        if lit is None:
            raise TrinoSqlUnsupported(
                "json_query needs a literal JSON path (QUOTES/ON EMPTY/"
                "ON ERROR clauses beyond the defaults are unsupported)")
        wrapper = ("without" if not wm.group("wrap")
                   else "cond" if wm.group("cond") else "with")
        strict = bool(re.match(r"strict\b", lit.strip(), re.IGNORECASE))
        path = re.sub(r"^(?:lax|strict)\s+", "", lit.strip(),
                      flags=re.IGNORECASE)
        # terminal .size()/.type() item methods (r10): strip the
        # method and render the item accordingly — size() is the array
        # element count (1 for any other item, lax); type() is the
        # SQL/JSON type word as a quoted JSON string (KEEP QUOTES —
        # Spark's VOID variant for JSON null makes "null" faithful);
        # a missing member stays NULL (→ ON EMPTY) for both.
        sm = re.fullmatch(
            r"(?P<base>.*?)\s*"
            r"\.(?P<meth>size|type|double|ceiling|floor|abs)\(\)\s*",
            path, re.DOTALL)
        size_of = None
        meth = sm.group("meth") if sm else None
        if sm:
            path = sm.group("base")
            if meth in ("ceiling", "floor", "abs"):
                # numeric item methods (r11): number items only — any
                # other item is an error → NULL render → whole-result
                # NULL through the .double() channel below.
                def size_of(vexpr, _m=meth):
                    return _jsonpath_numeric_method_render(vexpr, _m)
            elif meth == "double":
                # .double() (r10): number/numeric-string items render
                # as the double's canonical text; any other item is a
                # CONVERSION error (not structural — lax does not
                # suppress it), so the renderer yields NULL and the
                # wildcard aggregation below nulls the WHOLE result
                # (ON ERROR default) instead of skipping the item.
                size_of = _jsonpath_double_render
            elif meth == "size":
                def size_of(vexpr):   # noqa: E731-like rebind — closure
                    return (f"element_at(transform(array({vexpr}), _jq -> "
                            f"CASE WHEN _jq IS NULL THEN NULL "
                            f"WHEN schema_of_variant(_jq) LIKE 'ARRAY%' "
                            f"THEN CAST(size(try_cast(_jq AS "
                            f"ARRAY<VARIANT>)) AS STRING) "
                            f"ELSE '1' END), 1)")
            else:
                def size_of(vexpr):
                    word = _variant_type_word("_jq", quoted=True)
                    return (
                        f"element_at(transform(array({vexpr}), _jq -> "
                        f"CASE WHEN _jq IS NULL THEN NULL "
                        f"ELSE {word} END), 1)")
        seq_meths = ("double", "ceiling", "floor", "abs")
        plain = re.fullmatch(r"\$(?:\.\w+|\[\d+\])*", path)
        if plain and meth not in seq_meths:
            vexpr = (f"variant_get(try_parse_json({a[0]}), "
                     f"{requote(path)}, 'variant')")
            item = size_of(vexpr) if size_of else f"to_json({vexpr})"
            if wrapper == "without":
                return item
            tail_case = (
                "CASE WHEN _ji IS NULL THEN NULL "
                "WHEN startswith(_ji, '[') OR startswith(_ji, '{') "
                "THEN _ji ELSE concat('[', _ji, ']') END"
                if wrapper == "cond" else
                "CASE WHEN _ji IS NULL THEN NULL "
                "ELSE concat('[', _ji, ']') END")
            return (f"element_at(transform(array({item}), "
                    f"_ji -> {tail_case}), 1)")
        if plain:
            # plain chain + .double(): route through the sequence
            # machinery — lax method application unwraps an array item
            # one level, so the method may yield SEVERAL items and the
            # wrapper rules must see all of them.
            vexpr = (f"variant_get(try_parse_json({a[0]}), "
                     f"{requote(path)}, 'variant')")
            matches_v = f"filter(array({vexpr}), _jm0 -> _jm0 IS NOT NULL)"
        else:
            matches_v = _jsonpath_wildcard_matches(
                a[0], path, requote, "json_query", strict=strict)
        if matches_v is not None:
            # head[*] ?(filter)? tail via the shared VARIANT pipeline
            # (lax auto-wrap, exact-K3 filter, per-element tail); the
            # matched items render to JSON text (or the .size()/
            # .type()/.double() method result) before the wrapper
            # aggregation.
            if meth in seq_meths and not strict:
                # SQL/JSON lax METHOD APPLICATION unwraps arrays one
                # level before the method; strict applies the method
                # to the item directly (array → conversion error).
                matches_v = _jsonpath_unwrap(matches_v, "_jd")
            elem = size_of("_je") if size_of else "to_json(_je)"
            matches = f"transform({matches_v}, _je -> {elem})"
            if meth in seq_meths:
                # any NULL render = a conversion error → NULL result
                matches = (f"element_at(transform(array({matches}), "
                           f"_md -> CASE WHEN _md IS NULL "
                           f"OR exists(_md, _x -> _x IS NULL) "
                           f"THEN NULL ELSE _md END), 1)")
            if wrapper == "with":
                agg = ("CASE WHEN _m IS NULL OR size(_m) = 0 THEN NULL "
                       "ELSE concat('[', array_join(_m, ','), ']') END")
            elif wrapper == "cond":
                agg = ("CASE WHEN _m IS NULL OR size(_m) = 0 THEN NULL "
                       "WHEN size(_m) = 1 AND "
                       "(startswith(element_at(_m, 1), '[') OR "
                       "startswith(element_at(_m, 1), '{')) "
                       "THEN element_at(_m, 1) "
                       "ELSE concat('[', array_join(_m, ','), ']') END")
            else:
                agg = ("CASE WHEN _m IS NULL OR size(_m) <> 1 "
                       "THEN NULL ELSE element_at(_m, 1) END")
            return (f"element_at(transform(array({matches}), "
                    f"_m -> {agg}), 1)")
        raise TrinoSqlUnsupported(
            "json_query path with item methods other than "
            ".size()/.type()/.double()/.ceiling()/.floor()/.abs(), "
            "several filters, or a filter "
            "not attached to a [*] step — member/subscript chains "
            "with any number of [*] steps and at most one (possibly "
            "compound/parenthesized/negated) comparison-or-exists "
            "filter are the supported surface")

    code = _rewrite_calls(code, "json_query", _json_query_fn)

    # at_timezone(ts, zone) — the function form of AT TIME ZONE; the
    # zone may be any expression here (the call shape is unambiguous).
    code = _rewrite_calls(
        code, "at_timezone",
        lambda a: f"convert_timezone(current_timezone(), {a[1]}, {a[0]})"
        if len(a) == 2 else None)

    # Trino DECIMAL '1.23' typed literal → CAST with precision/scale
    # inferred from the literal text (Trino's own inference rule).
    def _decimal_lit(m: re.Match) -> str:
        text = stash[int(m.group(1))][1:-1].strip()
        nm = re.fullmatch(r"[+-]?(\d*)(?:\.(\d*))?", text)
        if not nm:
            raise TrinoSqlUnsupported(f"malformed DECIMAL literal {text!r}")
        digits = len(nm.group(1) or "") + len(nm.group(2) or "")
        scale = len(nm.group(2) or "")
        return (f"CAST('\x00{m.group(1)}\x00' "
                f"AS DECIMAL({max(digits, 1)}, {scale}))")

    code = re.sub(r"\bDECIMAL\s+'\x00(\d+)\x00'", _decimal_lit, code)

    # Trino date_format/date_parse use MySQL %-patterns; Spark's
    # date_format/to_timestamp take Java patterns.
    def _datefmt(spark_name):
        def fn(a):
            if len(a) != 2:
                return None
            lit = _lit(a[1])
            if lit is None:
                raise TrinoSqlUnsupported(
                    f"{spark_name}: non-literal %-pattern cannot be translated")
            if "%" not in lit:
                return None  # already a Java pattern (or pure literal)
            return f"{spark_name}({a[0]}, {requote(_mysql_fmt_to_java(lit))})"
        return fn

    code = _rewrite_calls(code, "date_format", _datefmt("date_format"))
    code = _rewrite_calls(code, "date_parse", _datefmt("to_timestamp"))

    # ---- wave 16 (r8): base/byte-order conversion, occurrence
    # positions, durations, time-zone parts, interval→ms, Wilson
    # intervals, binary-returning digests. Inputs referenced more than
    # once are bound as lambda variables (the transform(array(x), …)
    # let-binding) so projection collapse can't re-inline them.
    def _raise(exc: Exception):
        raise exc

    code = _rewrite_calls(
        code, "to_base",
        lambda a: (
            # Trino emits lowercase digits and a leading '-' for
            # negatives; Spark's conv is uppercase and treats negative
            # input as unsigned 64-bit.
            f"element_at(transform(array(CAST(({a[0]}) AS BIGINT)), _tb -> "
            f"CASE WHEN _tb < 0 THEN '-' || lower(conv(-_tb, 10, {a[1]})) "
            f"ELSE lower(conv(_tb, 10, {a[1]})) END), 1)")
        if len(a) == 2 else None)
    code = _rewrite_calls(
        code, "from_base",
        lambda a: (
            f"element_at(transform(array(({a[0]})), _fb -> "
            f"CASE WHEN substring(_fb, 1, 1) = '-' "
            f"THEN -CAST(conv(substring(_fb, 2), {a[1]}, 10) AS BIGINT) "
            f"WHEN substring(_fb, 1, 1) = '+' "
            f"THEN CAST(conv(substring(_fb, 2), {a[1]}, 10) AS BIGINT) "
            f"ELSE CAST(conv(_fb, {a[1]}, 10) AS BIGINT) END), 1)")
        if len(a) == 2 else None)

    # index(s, sub) (r10): Trino's Teradata-compat alias of strpos.
    code = _rewrite_calls(
        code, "index",
        lambda a: f"instr({a[0]}, {a[1]})" if len(a) == 2 else None)
    # char2hexint(s) (r10): Teradata compat — the hex rendering of the
    # string's UTF-16BE code units (Spark's hex() is uppercase like
    # Trino's output).
    code = _rewrite_calls(
        code, "char2hexint",
        lambda a: f"hex(encode(({a[0]}), 'UTF-16BE'))"
        if len(a) == 1 else None)
    # strpos(s, sub, n): position of the n-th occurrence (occurrences
    # may overlap — Trino's walk restarts at match+1; negative n counts
    # from the end, 0 of either missing occurrence → 0). The candidate
    # positions are a filtered index sequence; sequence(1, n) DESCENDS
    # for n < 1, so the short-input case returns an empty array
    # explicitly. The 2-arg form falls through to the instr rename.
    code = _rewrite_calls(
        code, "strpos",
        lambda a: (
            f"coalesce(try_element_at(filter("
            f"CASE WHEN length({a[0]}) >= length({a[1]}) "
            f"THEN sequence(1, length({a[0]}) - length({a[1]}) + 1) "
            f"ELSE CAST(array() AS ARRAY<INT>) END, "
            f"_sp -> substring({a[0]}, _sp, length({a[1]})) = ({a[1]})), "
            f"({a[2]})), 0)")
        if len(a) == 3 else None)

    # regexp_position start/occurrence forms (r9, formerly refused).
    # 3-arg: search the suffix, re-offset the hit. 4-arg: replay
    # matcher.find() — each round finds the next match at/after the
    # cursor, then advances the cursor past the match (max(len, 1) so
    # empty matches still advance), `occurrence` rounds via an
    # aggregate fold over sequence(1, occ). Anchors (^) see the
    # suffix, not the original string — the one documented divergence
    # of the substring approach.
    def _regexp_position_fn(a):
        if len(a) == 2:
            return ("element_at(transform(array(regexp_instr("
                    f"{a[0]}, {a[1]})), _rp -> "
                    "CASE WHEN _rp = 0 THEN -1 "
                    "ELSE CAST(_rp AS INT) END), 1)")
        if len(a) not in (3, 4):
            return None
        err = requote(
            "regexp_position: start and occurrence must be positive "
            "(Trino INVALID_FUNCTION_ARGUMENT)")
        if len(a) == 3:
            return (
                f"element_at(transform(array(named_struct("
                f"'s', ({a[0]}), 'st', CAST(({a[2]}) AS INT))), _rs -> "
                f"CASE WHEN _rs.st < 1 THEN "
                f"CAST(raise_error({err}) AS INT) "
                f"ELSE element_at(transform(array(regexp_instr("
                f"substring(_rs.s, _rs.st), {a[1]})), _rp -> "
                f"CASE WHEN _rp = 0 THEN -1 "
                f"ELSE CAST(_rp AS INT) + _rs.st - 1 END), 1) END), 1)")
        step = (
            f"element_at(transform(array(CAST(regexp_instr("
            f"substring(_rs.s, _ra.pos), {a[1]}) AS INT)), _rm -> "
            "IF(_rm = 0, named_struct('pos', _ra.pos, "
            "'res', CAST(-1 AS INT), 'dead', true), "
            "named_struct('pos', CAST(_rm + _ra.pos - 1 + "
            "greatest(length(regexp_extract(substring(_rs.s, "
            f"CAST(_rm + _ra.pos - 1 AS INT)), {a[1]}, 0)), 1) AS INT), "
            "'res', CAST(_rm + _ra.pos - 1 AS INT), 'dead', false))"
            "), 1)")
        return (
            f"element_at(transform(array(named_struct("
            f"'s', ({a[0]}), 'st', CAST(({a[2]}) AS INT), "
            f"'oc', CAST(({a[3]}) AS INT))), _rs -> "
            f"CASE WHEN _rs.st < 1 OR _rs.oc < 1 THEN "
            f"CAST(raise_error({err}) AS INT) "
            f"ELSE aggregate(sequence(1, _rs.oc), "
            f"named_struct('pos', _rs.st, 'res', CAST(-1 AS INT), "
            f"'dead', false), "
            f"(_ra, _ri) -> IF(_ra.dead, _ra, {step}), "
            f"_ra -> _ra.res) END), 1)")

    code = _rewrite_calls(code, "regexp_position", _regexp_position_fn)

    def _parse_duration_fn(a):
        if len(a) != 1:
            return None
        lit = _lit(a[0])
        if lit is not None:
            m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*(ns|us|ms|s|m|h|d)\s*",
                             lit)
            if not m:
                raise TrinoSqlUnsupported(
                    f"parse_duration: unparsable duration {lit!r}")
            mult = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
                    "m": 60.0, "h": 3600.0, "d": 86400.0}[m.group(2)]
            secs = round(float(m.group(1)) * mult, 6)
            return (f"make_dt_interval(0, 0, 0, "
                    f"CAST({secs} AS DECIMAL(18, 6)))")
        # Column path (r10, formerly refused): the same airlift
        # Duration grammar evaluated in codegen — regexp_extract the
        # magnitude and unit, CASE the unit to its seconds factor
        # (identical table to the literal fold above), NULL in → NULL
        # out, a non-null non-conforming string errors like Trino.
        pat = requote(r"^\s*(\d+(?:\.\d+)?)\s*(ns|us|ms|s|m|h|d)\s*$")
        units = (("ns", "1.0e-9"), ("us", "1.0e-6"), ("ms", "1.0e-3"),
                 ("s", "1.0"), ("m", "60.0"), ("h", "3600.0"),
                 ("d", "86400.0"))
        mult = ("CASE _pd.u " + " ".join(
            f"WHEN {requote(u)} THEN {f}" for u, f in units) + " END")
        err = requote("parse_duration: unparsable duration: ")
        src = f"CAST(({a[0]}) AS STRING)"
        return (
            f"element_at(transform(array(named_struct("
            f"'d', {src}, "
            f"'n', try_cast(regexp_extract({src}, {pat}, 1) AS DOUBLE), "
            f"'u', regexp_extract({src}, {pat}, 2))), _pd -> "
            f"CASE WHEN _pd.d IS NULL THEN NULL "
            f"WHEN _pd.n IS NULL OR _pd.u = {requote('')} THEN "
            f"make_dt_interval(0, 0, 0, CAST(raise_error(concat({err}, "
            f"_pd.d)) AS DECIMAL(18, 6))) "
            f"ELSE make_dt_interval(0, 0, 0, "
            f"CAST(round(_pd.n * {mult}, 6) AS DECIMAL(18, 6))) END), 1)")

    code = _rewrite_calls(code, "parse_duration", _parse_duration_fn)

    # Normalizing to DAY TO SECOND first makes the numeric cast yield
    # seconds (a day-time interval casts in its END-field unit).
    code = _rewrite_calls(
        code, "to_milliseconds",
        lambda a: (
            f"CAST(CAST(CAST(({a[0]}) AS INTERVAL DAY TO SECOND) "
            "AS DECIMAL(30, 6)) * 1000 AS BIGINT)")
        if len(a) == 1 else None)

    # to_iso8601: DATE → yyyy-MM-dd, timestamps → the T form with
    # millis (Trino's timestamp(3) default rendering). typeof() folds
    # to a constant per plan, so the CASE costs nothing at runtime.
    code = _rewrite_calls(
        code, "to_iso8601",
        lambda a: (
            f"element_at(transform(array(({a[0]})), _ti -> "
            "CASE WHEN typeof(_ti) = 'date' "
            "THEN date_format(_ti, 'yyyy-MM-dd') "
            "ELSE date_format(_ti, 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSS') "
            "END), 1)")
        if len(a) == 1 else None)

    # timezone_hour/_minute: the session-zone UTC offset at the given
    # wall-clock instant (Trino coerces a timestamp to the session
    # zone). offset = wall-clock minus its UTC rendering, both
    # interpreted in one fixed zone so the interpretation cancels.
    def _tz_part(hour: bool):
        def fn(a):
            if len(a) != 1:
                return None
            off = ("CAST((unix_micros(CAST(({x}) AS TIMESTAMP)) - "
                   "unix_micros(CAST(convert_timezone("
                   "current_timezone(), 'UTC', ({x})) AS TIMESTAMP))) "
                   "DIV 1000000 AS BIGINT)").replace("{x}", a[0])
            return (f"element_at(transform(array({off}), _tz -> "
                    + ("_tz DIV 3600" if hour else "(_tz DIV 60) % 60")
                    + "), 1)")
        return fn

    code = _rewrite_calls(code, "timezone_hour", _tz_part(True))
    code = _rewrite_calls(code, "timezone_minute", _tz_part(False))

    # with_timezone(ts, zone): the wall clock read in `zone`, rendered
    # as its UTC instant — the same convention as zoned TIMESTAMP
    # literals in this front end.
    code = _rewrite_calls(
        code, "with_timezone",
        lambda a: f"convert_timezone({a[1]}, 'UTC', {a[0]})"
        if len(a) == 2 else None)

    # 64-bit big-endian byte order. conv's negative to-base is its
    # signed mode, so 0xFFFF… round-trips to -1 and not 2^64-1.
    code = _rewrite_calls(
        code, "from_big_endian_64",
        lambda a: f"CAST(conv(hex({a[0]}), 16, -10) AS BIGINT)"
        if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "to_big_endian_64",
        lambda a: f"unhex(lpad(hex(CAST({a[0]} AS BIGINT)), 16, '0'))"
        if len(a) == 1 else None)
    # 32-bit variants (r10): hex() prints 64-bit two's complement, so
    # the low 8 hex digits ARE the int32 big-endian bytes; decode
    # re-signs the 32-bit value manually (conv's signed mode is
    # 64-bit-wide, which would leave 0xFFFFFFFF positive) and guards
    # the exact-4-byte input rule like Trino.
    code = _rewrite_calls(
        code, "to_big_endian_32",
        lambda a: (f"unhex(right(lpad(hex(CAST({a[0]} AS BIGINT)), "
                   f"16, '0'), 8))")
        if len(a) == 1 else None)

    def _from_be32(a):
        if len(a) != 1:
            return None
        err = requote("from_big_endian_32: input must be exactly 4 bytes")
        return (
            f"CASE WHEN octet_length({a[0]}) <> 4 "
            f"THEN CAST(raise_error({err}) AS INT) "
            f"ELSE element_at(transform(array("
            f"CAST(conv(hex({a[0]}), 16, 10) AS BIGINT)), _be -> "
            f"CAST(IF(_be >= 2147483648, _be - 4294967296, _be) AS INT)"
            f"), 1) END")

    code = _rewrite_calls(code, "from_big_endian_32", _from_be32)
    # is_finite / is_infinite (r10): NaN compares false against the
    # infinities in BOTH directions under Spark's NaN ordering (NaN is
    # the largest double: NaN < Inf is false, NaN > -Inf is true), so
    # the two-sided range test is exactly Java's Double.isFinite.
    code = _rewrite_calls(
        code, "is_finite",
        lambda a: (f"(CAST(({a[0]}) AS DOUBLE) > CAST('-Infinity' AS "
                   f"DOUBLE) AND CAST(({a[0]}) AS DOUBLE) < "
                   f"CAST('Infinity' AS DOUBLE))")
        if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "is_infinite",
        lambda a: (f"(abs(CAST(({a[0]}) AS DOUBLE)) = "
                   f"CAST('Infinity' AS DOUBLE))")
        if len(a) == 1 else None)
    # year_of_week / yow (r10): ISO week-numbering year — Spark's
    # EXTRACT(YEAROFWEEK) is the identical ISO-8601 definition.
    for _yow_name in ("year_of_week", "yow"):
        code = _rewrite_calls(
            code, _yow_name,
            lambda a: f"extract(YEAROFWEEK FROM ({a[0]}))"
            if len(a) == 1 else None)
    # millisecond(ts) (r10): the 0-999 millis field.
    code = _rewrite_calls(
        code, "millisecond",
        lambda a: f"CAST(date_format(({a[0]}), 'SSS') AS INT)"
        if len(a) == 1 else None)
    # to/from_base64url (r10): RFC 4648 §5 URL-safe alphabet — the
    # standard encoding with +/ swapped for -_ (Java's
    # Base64.getUrlEncoder, which Trino wraps, keeps '=' padding and
    # its decoder accepts unpadded input — unbase64 does too).
    code = _rewrite_calls(
        code, "to_base64url",
        lambda a: f"translate(base64({a[0]}), '+/', '-_')"
        if len(a) == 1 else None)
    # from_base64url rejects standard-alphabet input ('+' or '/') the
    # way Trino's strict URL-safe decoder does (r11 — translate alone
    # is a no-op on them, silently accepting invalid input).
    code = _rewrite_calls(
        code, "from_base64url",
        lambda a: (f"unbase64(CASE WHEN ({a[0]}) RLIKE '[+/]' "
                   f"THEN raise_error(concat('Invalid base64url "
                   f"character in: ', {a[0]})) "
                   f"ELSE translate({a[0]}, '-_', '+/') END)")
        if len(a) == 1 else None)

    def _wilson(sign):
        def fn(a):
            if len(a) != 3:
                return None
            s, n, z = a
            return (
                f"element_at(transform("
                f"array(CAST(({s}) AS DOUBLE) / ({n})), _wp -> "
                f"((_wp + ({z}) * ({z}) / (2.0 * ({n})) {sign} ({z}) * "
                f"sqrt(_wp * (1.0 - _wp) / ({n}) + "
                f"({z}) * ({z}) / (4.0 * ({n}) * ({n})))) "
                f"/ (1.0 + ({z}) * ({z}) / ({n})))), 1)")
        return fn

    code = _rewrite_calls(code, "wilson_interval_lower", _wilson("-"))
    code = _rewrite_calls(code, "wilson_interval_upper", _wilson("+"))

    # human_readable_seconds: weeks/days/hours/minutes/seconds parts,
    # singular/plural, ", "-joined, zero-valued parts dropped (CASE
    # without ELSE is NULL and concat_ws skips NULLs), all-zero → the
    # literal '0 seconds'. Input rounds half-up to whole seconds.
    def _hrs_fn(a):
        if len(a) != 1:
            return None
        part = ("CASE WHEN {v} > 0 THEN concat({v}, "
                "IF({v} = 1, ' {u}', ' {u}s')) END")
        units = [("_hr DIV 604800", "week"),
                 ("_hr % 604800 DIV 86400", "day"),
                 ("_hr % 86400 DIV 3600", "hour"),
                 ("_hr % 3600 DIV 60", "minute"),
                 ("_hr % 60", "second")]
        parts = ", ".join(part.replace("{v}", f"({v})").replace("{u}", u)
                          for v, u in units)
        return (f"element_at(transform(array(CAST(floor(({a[0]}) + 0.5) "
                f"AS BIGINT)), _hr -> CASE WHEN _hr = 0 "
                f"THEN '0 seconds' "
                f"ELSE concat_ws(', ', {parts}) END), 1)")

    code = _rewrite_calls(code, "human_readable_seconds", _hrs_fn)

    # luhn_check (wave 18): the Luhn mod-10 checksum as a pure codegen
    # fold — from the RIGHT, every second digit doubles (minus 9 above
    # 9). NULL → NULL; non-digit input raises like Trino (raise_error
    # inside the guarded branch). The input binds once as a lambda
    # variable.
    def _luhn_fn(a):
        if len(a) != 1:
            return None
        d = "(ascii(substring(_lu, _li, 1)) - 48)"
        term = (f"CASE WHEN (length(_lu) - _li) % 2 = 1 THEN "
                f"CASE WHEN {d} > 4 THEN {d} * 2 - 9 ELSE {d} * 2 END "
                f"ELSE {d} END")
        return (f"element_at(transform(array(({a[0]})), _lu -> "
                "CASE WHEN _lu IS NULL THEN CAST(NULL AS BOOLEAN) "
                "WHEN NOT (_lu RLIKE '^[0-9]+$') THEN "
                "CAST(raise_error('luhn_check: input must contain only "
                "digits') AS BOOLEAN) "
                "ELSE aggregate(sequence(1, length(_lu)), 0, "
                f"(_ls, _li) -> _ls + ({term})) % 10 = 0 END), 1)")

    code = _rewrite_calls(code, "luhn_check", _luhn_fn)

    # ---- wave 19 (r8, divergence audit): skewness/kurtosis. Trino
    # computes the SAMPLE-adjusted statistics (bias-corrected, the
    # n/((n-1)(n-2)) family); Spark's same-named aggregates are the
    # POPULATION formulas (g1, m4/m2²-3) — a silent value divergence
    # on every finite group (verified: n=6 gives 1.0952 vs Trino's
    # 1.4997). Lowered to power sums (one pass, codegen) with the
    # central moments bound once per group via the nested-transform
    # let-binding; n below the defined minimum divides by zero → NULL,
    # matching both engines' NULL-for-undefined convention.
    def _sample_moment_fn(kind: str):
        def fn(a):
            if len(a) != 1:
                return None
            x = f"CAST(({a[0]}) AS DOUBLE)"
            sums = (f"array(named_struct('n', CAST(count({x}) AS DOUBLE), "
                    f"'s1', sum({x}), 's2', sum({x} * {x}), "
                    f"'s3', sum({x} * {x} * {x}), "
                    f"'s4', sum({x} * {x} * {x} * {x})))")
            mu = "(_m.s1 / _m.n)"
            cm = (f"array(named_struct('n', _m.n, "
                  f"'m2', _m.s2 - _m.n * {mu} * {mu}, "
                  f"'m3', _m.s3 - 3 * {mu} * _m.s2 "
                  f"+ 2 * _m.n * {mu} * {mu} * {mu}, "
                  f"'m4', _m.s4 - 4 * {mu} * _m.s3 "
                  f"+ 6 * {mu} * {mu} * _m.s2 "
                  f"- 3 * _m.n * {mu} * {mu} * {mu} * {mu}))")
            if kind == "skewness":
                # Undefined below n=3 or on a constant group → NULL
                # (DuckDB's convention too, so oracles line up).
                final = ("CASE WHEN _c.n < 3 OR _c.m2 <= 0 "
                         "THEN CAST(NULL AS DOUBLE) ELSE "
                         "(_c.n / ((_c.n - 1) * (_c.n - 2))) * _c.m3 "
                         "/ pow(sqrt(_c.m2 / (_c.n - 1)), 3) END")
            else:
                final = ("CASE WHEN _c.n < 4 OR _c.m2 <= 0 "
                         "THEN CAST(NULL AS DOUBLE) ELSE "
                         "_c.n * (_c.n + 1) / ((_c.n - 1) * (_c.n - 2) "
                         "* (_c.n - 3)) * _c.m4 "
                         "/ pow(_c.m2 / (_c.n - 1), 2) "
                         "- 3 * (_c.n - 1) * (_c.n - 1) "
                         "/ ((_c.n - 2) * (_c.n - 3)) END")
            return (f"element_at(transform({sums}, _m -> "
                    f"element_at(transform({cm}, _c -> {final}), 1)), 1)")
        return fn

    code = _rewrite_calls(code, "skewness", _sample_moment_fn("skewness"))
    code = _rewrite_calls(code, "kurtosis", _sample_moment_fn("kurtosis"))

    # (geometric_mean is wave 7's guarded exp(avg(ln)) above.)

    # 2-arg trim family (wave 20, divergence audit): Trino's
    # trim/ltrim/rtrim(string, chars) — Spark's 2-arg forms take
    # (trimStr, string), the arguments REVERSED (verified:
    # trim('xax', 'x') is 'a' in Trino/DuckDB but '' in Spark) — a
    # silent wrong-value pass-through until now. Lowered to the
    # unambiguous SQL-standard TRIM(BOTH|LEADING|TRAILING c FROM s),
    # identical in both engines. 1-arg forms (and the standard FROM
    # spelling, which arrives as a single comma-less argument) pass
    # through untouched.
    def _trim_fn(kind: str):
        def fn(a):
            if len(a) != 2:
                return None
            return f"TRIM({kind} ({a[1]}) FROM ({a[0]}))"
        return fn

    code = _rewrite_calls(code, "trim", _trim_fn("BOTH"))
    code = _rewrite_calls(code, "ltrim", _trim_fn("LEADING"))
    code = _rewrite_calls(code, "rtrim", _trim_fn("TRAILING"))

    # ---- wave 20 (r8): counting-distribution entropy, top-n
    # max_by/min_by, checksum refusal.
    # entropy(c): Shannon log-2 entropy of COUNT inputs —
    # -Σ (c/S)·log2(c/S) = log2(S) - Σ(c·log2 c)/S, a one-pass pair of
    # sums. Zero counts contribute 0; a NEGATIVE count poisons the
    # result to NaN (Trino raises — NaN is the visible equivalent this
    # front end can express without a per-row branch to raise_error).
    def _entropy_fn(a):
        if len(a) != 1:
            return None
        c = f"CAST(({a[0]}) AS DOUBLE)"
        # Negative branch emits NaN DIRECTLY (r9, advice): bare
        # log2(negative) is NULL in Spark (the IEEE log wrapper runs
        # before this pass), and sum() would SKIP the NULL — a silently
        # wrong finite entropy instead of the documented NaN poison.
        term = (f"CASE WHEN {c} > 0 THEN {c} * log2({c}) "
                f"WHEN {c} = 0 THEN 0.0 "
                f"ELSE CAST('NaN' AS DOUBLE) END")
        return (f"element_at(transform(array(named_struct("
                f"'s', sum({c}), 'sl', sum({term}))), _en -> "
                "CASE WHEN _en.s IS NULL OR _en.s = 0 THEN 0.0 "
                "ELSE log2(_en.s) - _en.sl / _en.s END), 1)")

    code = _rewrite_calls(code, "entropy", _entropy_fn)

    # max_by(x, y, n) / min_by(x, y, n): the x values of the n
    # largest/smallest y — Spark's twins are 2-arg only. Sorted
    # collect_list fold, NULL keys dropped (Trino ignores them), value
    # as final tie-break so equal keys order deterministically (Trino
    # leaves ties arbitrary). The 2-arg forms fall through untouched
    # (same name, same semantics in Spark).
    def _n_by_fn(desc: bool):
        def fn(a):
            if len(a) != 3:
                return None
            lo, hi = ("-1", "1") if desc else ("1", "-1")
            cmp = (f"CASE WHEN _na.k > _nb.k THEN {lo} "
                   f"WHEN _na.k < _nb.k THEN {hi} "
                   f"WHEN _na.v > _nb.v THEN {lo} "
                   f"WHEN _na.v < _nb.v THEN {hi} ELSE 0 END")
            return (f"transform(slice(array_sort(filter(collect_list("
                    f"struct(({a[1]}) AS k, ({a[0]}) AS v)), "
                    f"_nf -> _nf.k IS NOT NULL), "
                    f"(_na, _nb) -> {cmp}), 1, {a[2]}), _nv -> _nv.v)")
        return fn

    code = _rewrite_calls(code, "max_by", _n_by_fn(desc=True))
    code = _rewrite_calls(code, "min_by", _n_by_fn(desc=False))

    code = _rewrite_calls(
        code, "checksum",
        _named_unsupported(
            "checksum", "order-insensitive xxhash64 sketch — engine-"
            "specific values; hash a canonical sorted rendering "
            "(e.g. md5 of listagg) for a portable checksum"))


    # Trino's md5/sha1 return VARBINARY; Spark's return the hex STRING
    # (sha256/sha512 are handled the same way earlier in this pass).
    code = _rewrite_calls(
        code, "md5",
        lambda a: f"unhex(md5({a[0]}))" if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "sha1",
        lambda a: f"unhex(sha1({a[0]}))" if len(a) == 1 else None)

    # Honest refusals — passing these through would be silently wrong
    # or a bare unresolved-routine error.
    # xxhash64 (r9, formerly refused): Trino's form is seed-0 XXH64
    # returning the 64-bit result as little-endian VARBINARY
    # (VarbinaryFunctions.java — airlift Slice.setLong); Spark's
    # builtin seeds with 42 and returns BIGINT, so it lowers to the
    # session-registered trino_xxhash64 pandas UDF (trino_compat.xxh64
    # — bit-verified against Spark's own builtin at seed 42).
    code = _rewrite_calls(
        code, "xxhash64",
        lambda a: f"trino_xxhash64({a[0]})" if len(a) == 1 else None)
    # to_base32 / from_base32 (r10, formerly a bare unresolved-routine
    # failure): Spark has no base32 builtin (base64 only), so both
    # lower to session pandas UDFs verified against RFC 4648's own
    # test vectors (trino_compat.register_base32).
    code = _rewrite_calls(
        code, "to_base32",
        lambda a: f"trino_to_base32({a[0]})" if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "from_base32",
        lambda a: f"trino_from_base32({a[0]})" if len(a) == 1 else None)
    # hmac_* / ieee754 codecs (r10, formerly bare unresolved-routines):
    # session pandas UDFs (trino_compat.register_binary_codecs) —
    # HMAC proven against RFC 4231/2202 vectors, ieee754 is the exact
    # Java doubleToLongBits/floatToIntBits big-endian layout.
    for _alg in ("md5", "sha1", "sha256", "sha512"):
        code = _rewrite_calls(
            code, f"hmac_{_alg}",
            (lambda alg: lambda a: (f"trino_hmac_{alg}({a[0]}, {a[1]})"
                                    if len(a) == 2 else None))(_alg))
    # Arrow converts SQL NULL doubles to NaN before the pandas UDF can
    # see them, so NULL-in-NULL-out must be decided SQL-SIDE — the
    # CASE guard keeps genuine NaN inputs flowing to the UDF (where
    # IEEE semantics apply) while NULL never reaches it (r10 review
    # fix: to_ieee754_64(NULL) returned the NaN bit pattern, and a
    # NULL sd crashed the stat CDFs' domain checks).
    for _ieee in ("to_ieee754_64", "to_ieee754_32",
                  "from_ieee754_64", "from_ieee754_32"):
        code = _rewrite_calls(
            code, _ieee,
            (lambda nm: lambda a: (
                f"CASE WHEN ({a[0]}) IS NULL THEN NULL "
                f"ELSE trino_{nm}({a[0]}) END"
                if len(a) == 1 else None))(_ieee))
    # statistical CDFs (r10): normal_cdf / inverse_normal_cdf /
    # beta_cdf / inverse_beta_cdf → session pandas UDFs
    # (trino_compat.register_stat_fns — erfc-exact normal, Lentz
    # continued-fraction regularized beta, domain errors like Trino).
    for _cdf in ("normal_cdf", "inverse_normal_cdf",
                 "beta_cdf", "inverse_beta_cdf"):
        code = _rewrite_calls(
            code, _cdf,
            (lambda nm: lambda a: (
                f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
                f"OR ({a[2]}) IS NULL THEN CAST(NULL AS DOUBLE) "
                f"ELSE trino_{nm}({a[0]}, {a[1]}, {a[2]}) END"
                if len(a) == 3 else None))(_cdf))
    # murmur3 (r10, formerly refused): Trino's 128-bit MurmurHash3
    # (x64_128, seed 0) via the session-registered trino_murmur3
    # pandas UDF — implemented from Appleby's public-domain spec and
    # bit-verified by smhasher's published VERIFICATION value
    # (trino_compat.murmur3_x64_128).
    code = _rewrite_calls(
        code, "murmur3",
        lambda a: f"trino_murmur3({a[0]})" if len(a) == 1 else None)
    # word_stem (r10, formerly refused): Trino stems with the Snowball
    # english stemmer (Porter2); lowered to the session-registered
    # trino_word_stem pandas UDF (functions/stemmer.py — implemented
    # from the public snowballstem.org spec, verified against the
    # spec's own example pairs). Only the english form is expressible;
    # other language codes keep a named error.
    def _word_stem(a):
        if len(a) == 1:
            return f"trino_word_stem({a[0]})"
        lang = _lit(a[1].strip()) if len(a) == 2 else None
        if lang is not None and lang.lower() in ("en", "english"):
            return f"trino_word_stem({a[0]})"
        raise TrinoSqlUnsupported(
            "word_stem: only the english (Porter2) stemmer is "
            f"implemented — language {lang!r} has no verified "
            "in-container twin")
    code = _rewrite_calls(code, "word_stem", _word_stem)
    # spooky_hash_v2_32/64 (r12, formerly a deliberate refusal): Trino's
    # SpookyHash V2 (VarbinaryFunctions → airlift SpookyHashV2, seed 0,
    # big-endian result bytes) via the session-registered trino_spooky32/
    # 64 pandas UDFs. The r11 refusal condition — a PUBLISHED smhasher
    # verification constant to break the self-oracle circularity — is
    # met: the from-scratch implementation reproduces smhasher's
    # Spooky64 value 0x972C4BDC over all key lengths 0..255
    # (trino_compat.spooky_v2_128; test_trino_sql.py::
    # test_spooky_smhasher_verification).
    code = _rewrite_calls(
        code, "spooky_hash_v2_64",
        lambda a: f"trino_spooky64({a[0]})" if len(a) == 1 else None)
    code = _rewrite_calls(
        code, "spooky_hash_v2_32",
        lambda a: f"trino_spooky32({a[0]})" if len(a) == 1 else None)
    # Trino CLI color/bar rendering — terminal-escape helpers with no
    # meaning outside the Trino CLI; refuse by name (r10).
    for _color_fn in ("bar", "color", "render", "rgb"):
        code = _rewrite_calls(
            code, _color_fn,
            _named_unsupported(_color_fn,
                               "Trino-CLI terminal color helper"))
    code = _rewrite_calls(
        code, "json_array_get",
        _named_unsupported(
            "json_array_get", "deprecated in Trino itself (broken "
            "semantics) — use json_extract(json, '$[i]')"))
    # format_number(x) (r9, formerly refused): Trino's unit-suffix
    # rendering — divide by 1000 into K/M/B/T/Q while ≥1000, then
    # DecimalFormat precision by magnitude of the SCALED value
    # (#.## under 10, #.# under 100, # otherwise): HALF_EVEN rounding
    # (Spark bround / DecimalFormat default), trailing zeros and a
    # bare decimal point stripped. 123456 → '123K', 1000000 → '1M'
    # (the documented Trino vectors). Rendering goes through
    # DECIMAL(38,6) so large scaled values never hit double
    # scientific notation. Best-effort edges, documented: non-finite
    # doubles render as Spark's NaN/Infinity text; sub-1 doubles keep
    # the leading zero. Spark's own 2-arg format_number (thousands
    # separators) is a different function and passes through.
    def _format_number_fn(a):
        if len(a) != 1:
            return None
        scaled = (
            "CASE WHEN abs(_fv) >= 1e15 THEN "
            "named_struct('v', _fv / 1e15, 'u', 'Q') "
            "WHEN abs(_fv) >= 1e12 THEN "
            "named_struct('v', _fv / 1e12, 'u', 'T') "
            "WHEN abs(_fv) >= 1e9 THEN "
            "named_struct('v', _fv / 1e9, 'u', 'B') "
            "WHEN abs(_fv) >= 1e6 THEN "
            "named_struct('v', _fv / 1e6, 'u', 'M') "
            "WHEN abs(_fv) >= 1e3 THEN "
            "named_struct('v', _fv / 1e3, 'u', 'K') "
            "ELSE named_struct('v', _fv, 'u', '') END")
        strip1 = requote(r"(\.\d*[1-9])0+$")
        strip2 = requote(r"\.0*$")
        dollar1 = requote("$1")
        empty = requote("")

        def render(d: int) -> str:
            # bround's scale must be foldable — one branch per scale
            return (f"regexp_replace(regexp_replace(CAST(try_cast("
                    f"bround(_fs.v, {d}) AS DECIMAL(38, 6)) AS STRING), "
                    f"{strip1}, {dollar1}), {strip2}, {empty})")

        num = (f"CASE WHEN abs(_fs.v) < 10 THEN {render(2)} "
               f"WHEN abs(_fs.v) < 100 THEN {render(1)} "
               f"ELSE {render(0)} END")
        inf = requote("Infinity")
        body = (f"CASE WHEN isnan(_fv) OR abs(_fv) = double({inf}) "
                "THEN CAST(_fv AS STRING) "
                f"ELSE element_at(transform(array({scaled}), "
                f"_fs -> concat({num}, _fs.u)), 1) END")
        return (f"element_at(transform(array(CAST(({a[0]}) AS DOUBLE)), "
                f"_fv -> {body}), 1)")

    code = _rewrite_calls(code, "format_number", _format_number_fn)
    return code


def _find_close_bracket(s: str, open_idx: int) -> int:
    """Index of the ']' matching s[open_idx] == '[' (masked text)."""
    depth, j, n = 0, open_idx, len(s)
    while j < n:
        c = s[j]
        if c == "[":
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    raise TrinoSqlUnsupported(f"unbalanced brackets after offset {open_idx}")


_ARRAY_LITERAL_RE = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


def _rewrite_array_literals(code: str) -> str:
    """Trino ARRAY[x, y, z] → Spark array(x, y, z). Innermost-first via
    re-scanning after each replacement (nested literals shrink the
    remaining match set each pass)."""
    while True:
        m = _ARRAY_LITERAL_RE.search(code)
        if not m:
            return code
        open_idx = m.end() - 1
        close = _find_close_bracket(code, open_idx)
        inner = code[open_idx + 1:close]
        code = code[:m.start()] + "array(" + inner + ")" + code[close + 1:]


_SUBSCRIPT_HEAD_RE = re.compile(r"[A-Za-z0-9_.`]$")


def _rewrite_subscripts(code: str) -> str:
    """Trino ``expr[i]`` element access → ``element_at(expr, i)``.

    THE off-by-one trap of Trino→Spark migration: Trino subscripts are
    1-based, Spark's bracket subscript is 0-based — the same text
    silently reads the neighboring element. Spark's element_at is
    1-based, matching Trino's ARRAY subscript exactly (negative = from
    end; out of bounds ERRORS — the strict marker below protects that
    from the wave-20 function-spelling relaxation). One documented
    divergence: a MAP subscript with a missing key returns NULL here
    where Trino raises "Key not present in map" — Spark has no strict
    map access, and a text rewriter cannot type-dispatch the bracket.

    The preceding expression is recognized textually: an identifier /
    qualified / backticked name, a ')' (call or parenthesized expr —
    matched back to its '('), or a ']' already rewritten away. Runs
    after ARRAY-literal rewriting, so every remaining '[' preceded by
    an expression tail is a subscript.
    """
    while True:
        # leftmost subscript whose head is an expression tail
        pos = -1
        for m in re.finditer(r"\[", code):
            i = m.start()
            head = code[:i].rstrip()
            if head and (_SUBSCRIPT_HEAD_RE.search(head) or head.endswith(")")):
                pos = i
                break
        if pos < 0:
            return code
        close = _find_close_bracket(code, pos)
        index = code[pos + 1:close]
        head_end = len(code[:pos].rstrip())
        head = code[:head_end]
        if head.endswith(")"):
            # walk back over the balanced call/paren group + its name
            depth, j = 0, head_end - 1
            while j >= 0:
                if head[j] == ")":
                    depth += 1
                elif head[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            while j > 0 and _SUBSCRIPT_HEAD_RE.search(head[j - 1]):
                j -= 1
            expr_start = j
        else:
            j = head_end
            while j > 0 and _SUBSCRIPT_HEAD_RE.search(head[j - 1]):
                j -= 1
            expr_start = j
        expr = code[expr_start:head_end]
        # __subscript_at is a STRICT marker restored to element_at at
        # the end of _rewrite_code: Trino subscripts ERROR out of
        # bounds (unlike element_at-the-function, which returns NULL),
        # so the wave-20 element_at→try_element_at pass must not relax
        # subscript accesses.
        code = (code[:expr_start] + f"__subscript_at({expr}, {index})"
                + code[close + 1:])


_AT_TIME_ZONE_RE = re.compile(r"\bAT\s+TIME\s+ZONE\b", re.IGNORECASE)
_AT_TZ_LITERAL_RE = re.compile(
    r"\s+AT\s+TIME\s+ZONE\s+('\x00\d+\x00')", re.IGNORECASE)
_MASKED_LIT_TAIL_RE = re.compile(
    r"(?:(?:TIMESTAMP_NTZ|TIMESTAMP|DATE)\s*)?'\x00\d+\x00'$", re.IGNORECASE)

#: Trino tz-suffixed TIMESTAMP literal content: '<date time> <zone>'
#: where zone is a [+-]HH:MM offset or a named IANA zone (contains '/',
#: or the literal UTC/GMT aliases — a bare word could be part of a
#: datetime, so names are restricted to unambiguous forms).
_TZ_SUFFIX_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?)\s+"
    r"([+-]\d{2}:\d{2}|[A-Za-z_]+/[A-Za-z_+\-0-9]+|UTC|GMT|Z)$")


def _rewrite_tz_literals(code: str, stash: list[str]) -> str:
    """Trino ``TIMESTAMP '2024-01-15 12:00:00 +02:00'`` (timestamp WITH
    time zone literal) → the same INSTANT normalized to a UTC
    TIMESTAMP_NTZ via ``convert_timezone(zone, 'UTC', ntz)``. The engine
    has no zoned timestamp type (every fixture timestamp is NTZ), so
    UTC-instant normalization is the faithful comparison-preserving
    mapping; the zone's display identity is the one thing dropped."""
    pat = re.compile(r"\bTIMESTAMP\s*'\x00(\d+)\x00'", re.IGNORECASE)

    def sub(m: re.Match) -> str:
        content = stash[int(m.group(1))][1:-1]
        tz = _TZ_SUFFIX_RE.match(content)
        if not tz:
            return m.group(0)
        dt_idx, zone_idx = len(stash), len(stash) + 1
        stash.append(f"'{tz.group(1)}'")
        zone = "UTC" if tz.group(2) == "Z" else tz.group(2)
        stash.append(f"'{zone}'")
        return (f"convert_timezone('\x00{zone_idx}\x00', 'UTC', "
                f"TIMESTAMP_NTZ '\x00{dt_idx}\x00')")

    return pat.sub(sub, code)


def _rewrite_at_time_zone(code: str, stash: list[str]) -> str:
    """Trino ``expr AT TIME ZONE 'zone'`` → ``convert_timezone(
    current_timezone(), 'zone', expr)``.

    Trino interprets a zone-less timestamp in the SESSION zone and
    re-expresses the same instant in the target zone; Spark's
    convert_timezone(src, dst, ntz) is exactly that wall-clock shift, so
    the result is the Trino display wall-clock as TIMESTAMP_NTZ. The
    operand is matched textually (AT binds tighter than arithmetic in
    Trino's grammar, so only the immediately preceding primary
    expression is taken): an identifier/qualified name, a balanced call
    or parenthesized expression, or a (typed) literal. A non-literal
    zone raises — a dynamic zone cannot be verified not to mean the
    INTERVAL form, whose semantics differ."""
    while True:
        m = _AT_TZ_LITERAL_RE.search(code)
        if not m:
            if _AT_TIME_ZONE_RE.search(code):
                raise TrinoSqlUnsupported(
                    "AT TIME ZONE with a non-literal zone expression — "
                    "rewrite with convert_timezone(src, dst, ts)")
            return code
        tz = m.group(1)
        h = code[:m.start()].rstrip()
        he = len(h)
        lit = _MASKED_LIT_TAIL_RE.search(h)
        if lit:
            start = lit.start()
        elif h.endswith(")"):
            depth, j = 0, he - 1
            while j >= 0:
                if h[j] == ")":
                    depth += 1
                elif h[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            while j > 0 and _SUBSCRIPT_HEAD_RE.search(h[j - 1]):
                j -= 1
            start = j
        elif _SUBSCRIPT_HEAD_RE.search(h):
            j = he
            while j > 0 and _SUBSCRIPT_HEAD_RE.search(h[j - 1]):
                j -= 1
            start = j
        else:
            raise TrinoSqlUnsupported(
                "AT TIME ZONE operand not recognized — parenthesize the "
                "expression")
        expr = h[start:he]
        code = (code[:start]
                + f"convert_timezone(current_timezone(), {tz}, {expr})"
                + code[m.end():])

_CTAS_HEAD_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*"
    r"(WITH\s*\()?", re.IGNORECASE)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+", re.IGNORECASE)
_MUTATION_RE = re.compile(r"^\s*(DELETE|UPDATE|MERGE)\b", re.IGNORECASE)


def _rewrite_ddl_head(code: str, stash: list[str]) -> str:
    """Trino DDL headers → Spark DDL.

    - ``CREATE TABLE t [WITH (format='PARQUET', partitioned_by=
      ARRAY['c'], bucketed_by=ARRAY['k'], bucket_count=n)] AS …`` →
      ``CREATE TABLE t USING parquet [PARTITIONED BY (c)] [CLUSTERED BY
      (k) INTO n BUCKETS] AS …`` — Trino carries the physical layout in
      WITH-properties; Spark in dedicated clauses. Unknown properties
      raise rather than silently drop a layout request.
    - ``CREATE [OR REPLACE] VIEW v AS …`` → temporary view (the fixture
      tables are session temp views; a permanent Spark view cannot
      reference them — the governed catalog owns durable views).

    Runs FIRST (before literal/array rewrites) so the raw Trino
    ARRAY['col'] property form is parsed here.
    """
    if _MUTATION_RE.match(code):
        raise TrinoSqlUnsupported(
            f"{_MUTATION_RE.match(code).group(1).upper()} targets immutable "
            "parquet tables here (the reference connector is read-side too) "
            "— rewrite as CTAS/INSERT INTO ... SELECT with the mutation "
            "expressed as a filter/join")
    if _CREATE_VIEW_RE.match(code):
        return _CREATE_VIEW_RE.sub("CREATE OR REPLACE TEMPORARY VIEW ", code)
    m = _CTAS_HEAD_RE.match(code)
    if not m:
        return code
    ine = m.group(1) or ""
    name = m.group(2)
    clauses = ["USING parquet"]
    rest_at = m.end()
    props = None
    if m.group(3):  # WITH ( … ) property block
        close = _find_close(code, m.end() - 1)
        props = code[m.end():close]
        rest_at = close + 1
    if not re.match(r"\s*AS\b", code[rest_at:], re.IGNORECASE):
        # column-definition DDL, not CTAS — pass through untouched (the
        # reference's CREATE TABLE goes through its planner DDL path,
        # not the query surface).
        return code
    if props is not None:
        for prop in _split_top_level(props):
            pm = re.fullmatch(r"\s*(\w+)\s*=\s*(.+?)\s*", prop, re.DOTALL)
            if not pm:
                raise TrinoSqlUnsupported(f"unparsable table property: {prop!r}")
            key, val = pm.group(1).lower(), pm.group(2)

            def _cols(v: str) -> str:
                am = re.fullmatch(r"ARRAY\s*\[(.*)\]", v.strip(),
                                  re.IGNORECASE | re.DOTALL)
                if not am:
                    raise TrinoSqlUnsupported(
                        f"table property {key} expects ARRAY['col', …]")
                return ", ".join(
                    stash[int(n)][1:-1] for n in re.findall(r"'\x00(\d+)\x00'",
                                                            am.group(1)))
            if key == "format":
                fm = re.search(r"'\x00(\d+)\x00'", val)
                if fm is None:
                    raise TrinoSqlUnsupported(
                        "table property format expects a string literal")
                fmt = stash[int(fm.group(1))][1:-1].lower()
                clauses[0] = f"USING {fmt}"
            elif key == "partitioned_by":
                clauses.append(f"PARTITIONED BY ({_cols(val)})")
            elif key == "bucketed_by":
                clauses.append(f"CLUSTERED BY ({_cols(val)})")
            elif key == "bucket_count":
                clauses.append(f"INTO {val.strip()} BUCKETS")
            else:
                raise TrinoSqlUnsupported(
                    f"CREATE TABLE property {key!r} has no Spark mapping")
    # CLUSTERED BY must precede INTO n BUCKETS and follow PARTITIONED BY;
    # property order in the WITH block is free, so sort by clause kind.
    rank = {"USING": 0, "PARTITIONED": 1, "CLUSTERED": 2, "INTO": 3}
    clauses.sort(key=lambda c: rank[c.split()[0]])
    if any(c.startswith("INTO") for c in clauses) != \
            any(c.startswith("CLUSTERED") for c in clauses):
        raise TrinoSqlUnsupported(
            "bucketed_by and bucket_count must be given together")
    return (f"CREATE TABLE {ine}{name} " + " ".join(clauses)
            + " " + code[rest_at:])


#: Fully-literal integer-division chain prefix: 7/2, 100/7/3, … (each
#: operand a bare integer literal, no adjacent word/dot chars). A
#: trailing non-literal divisor (7/2/x) is allowed — the literal
#: PREFIX is leftmost, so folding it alone is safe (r10, advice).
_LIT_DIV_CHAIN_RE = re.compile(
    r"(?<![\w.])\d+(?:\s*/\s*\d+)+(?![\w.])")


def _rewrite_literal_int_division(code: str) -> str:
    """Rewrite all-literal division chains to Trino's truncating
    semantics, folding left-associatively: ``7/2/2`` → ``((7 div 2)
    div 2)``. A MIXED chain folds its leading literal prefix —
    ``7/2/x`` → ``(7 div 2)/x`` (Trino computes (7/2)=3 first; the
    trailing column division keeps the one documented column-operand
    divergence). VETO when the chain is preceded (ignoring whitespace)
    by an equal-precedence operator ``*`` ``/`` ``%`` — Trino parses
    ``x * 7/10`` as ``(x*7)/10``, so localizing the div would zero it —
    or when the leading literal is a scientific-exponent tail
    (``1e-5``: the ``5`` is a bare literal after the sign). Those forms
    keep Spark's double semantics (documented divergence)."""

    def fold(m: re.Match) -> str:
        prefix = code[: m.start()].rstrip()
        if prefix and prefix[-1] in "*/%":
            return m.group(0)
        if re.search(r"\d[eE][+-]$", prefix):
            return m.group(0)
        nums = re.findall(r"\d+", m.group(0))
        expr = nums[0]
        for n in nums[1:]:
            expr = f"({expr} div {n})"
        return expr

    return _LIT_DIV_CHAIN_RE.sub(fold, code)


def _rewrite_code(code: str, stash: list[str]) -> str:
    """Dialect rewrites over the full masked statement. ``stash[k]`` is
    the original text behind placeholder k (string literals keep their
    quotes)."""
    if re.search(r"\bMATCH_RECOGNIZE\b", code, re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "MATCH_RECOGNIZE cannot be rewritten as pure text — run it "
            "through execute_trino/GovernedCatalog.execute, which lower the "
            "supported subset onto the match_recognize operator "
            "(operators/pattern.py)")
    if re.search(r"\bGROUPS\s+BETWEEN\b", code, re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "GROUPS window frames are not supported by Spark SQL text — "
            "use operators.windows.groups_frame (dense_rank + RANGE "
            "equivalence, one shared exchange+sort) or rewrite with a "
            "RANGE frame over dense_rank")
    code = _rewrite_ddl_head(code, stash)
    code = _rewrite_array_literals(code)
    code = _rewrite_subscripts(code)
    code = _rewrite_try(code, stash)
    code = _rewrite_unnest(code)
    code = _rewrite_listagg(code)
    code = _structural_rewrites(code, stash)
    # Strict subscript accesses keep Trino's out-of-bounds ERROR (the
    # wave-20 try_element_at relaxation applies only to the function
    # spelling, which Trino defines as NULL-on-miss).
    code = code.replace("__subscript_at(", "element_at(")
    code = _DATE_ARITH_RE.sub(
        lambda m: ("timestampadd(" if m.group(1).lower() == "date_add"
                   else "timestampdiff(")
        + stash[int(m.group(2))][1:-1].upper() + ",",
        code)
    code = _rewrite_dow(code)
    # wave 14 (r8, context-hardened r9): Trino's / TRUNCATES for
    # integer operands (7/2 = 3); Spark's / is always double division
    # (3.5). A pure-text rewriter cannot see column types, so only the
    # all-literal form is fixed (→ div, Trino's exact value AND type);
    # division involving columns keeps Spark's double semantics — the
    # one documented value divergence of this front end (write a div b,
    # or cast, where integer-column division is intended).
    # r9 (advice): equal-precedence LEFT context must veto the rewrite —
    # Trino parses x * 7/10 as (x*7)/10, so emitting x * (7 div 10)
    # would zero the expression. Skip when the chain is preceded by
    # * / % (after whitespace) or sits in a scientific-exponent tail
    # (1e-5). Fully-literal chains 7/2/2 fold LEFT-ASSOCIATIVELY to
    # ((7 div 2) div 2) = 1, matching Trino.
    code = _rewrite_literal_int_division(code)
    # wave 14 (r8): EXTRACT field spellings. Trino's DOW/DAY_OF_WEEK is
    # ISO (Monday=1); Spark's DOW is Sunday=1 — passing it through is a
    # silent off-by-one-day-of-week. Spark's DOW_ISO matches Trino
    # exactly. YOW/YEAR_OF_WEEK and the DAY_OF_*/WEEK_OF_YEAR long
    # forms map to Spark's accepted spellings (identical values).
    code = re.sub(
        r"(\bEXTRACT\s*\(\s*)(\w+)(\s+FROM\b)",
        lambda m: m.group(1) + _EXTRACT_FIELD_MAP.get(
            m.group(2).upper(), m.group(2)) + m.group(3),
        code, flags=re.IGNORECASE)
    code = _RENAME_RE.sub(
        lambda m: _RENAMES[m.group(1).lower()] + "(", code)
    code = _CAST_TYPE_RE.sub(
        lambda m: "AS " + _CAST_TYPE_MAP[
            re.sub(r"\s*\(.*\)", "", re.sub(r"\s+", " ", m.group(1).upper()))],
        code)
    code = _rewrite_fetch_ties(code)
    code = _rewrite_between_symmetric(code)
    # Count-less FETCH FIRST ROW ONLY defaults to 1 (Trino grammar).
    code = _FETCH_RE.sub(
        lambda m: f"LIMIT {(m.group(1) or '1').strip()}", code)
    # Trino LIMIT ALL = no limit; Spark has no ALL spelling (r8).
    code = re.sub(r"\bLIMIT\s+ALL\b", "", code, flags=re.IGNORECASE)
    code = _TABLESAMPLE_RE.sub(lambda m: f"TABLESAMPLE ({m.group(1)} PERCENT)", code)
    code = _rewrite_tz_literals(code, stash)
    code = _TS_LITERAL_RE.sub(r"TIMESTAMP_NTZ\1", code)
    code = _rewrite_at_time_zone(code, stash)
    # bare localtimestamp niladic keyword → Spark needs the call form
    code = re.sub(r"\blocaltimestamp\b(?!\s*\()", "localtimestamp()",
                  code, flags=re.IGNORECASE)
    # bare current_catalog / current_schema niladics (r10): Spark only
    # has the call forms; localtime (TIME in the session zone) is
    # Spark's current_time.
    code = re.sub(r"\bcurrent_catalog\b(?!\s*\()", "current_catalog()",
                  code, flags=re.IGNORECASE)
    code = re.sub(r"\bcurrent_schema\b(?!\s*\()", "current_schema()",
                  code, flags=re.IGNORECASE)
    code = re.sub(r"\blocaltime\b(?!\s*\()(?!stamp)", "current_time",
                  code, flags=re.IGNORECASE)
    # CAST(x AS JSON) (r7): Trino's JSON type is a string here. The
    # cast SERIALIZES the operand to JSON text for every operand type
    # (varchar → quoted/escaped JSON string — Trino does NOT parse;
    # numerics/booleans → JSON scalars; arrays/maps/rows → nested
    # JSON). One type-agnostic lowering: to_json of a 1-field struct,
    # with the constant {"v": wrapper sliced off — exact JSON escaping
    # from Spark's own serializer, nested nulls preserved
    # (ignoreNullFields off). A standalone SQL NULL stays SQL NULL
    # (Trino's rule), via the CASE.
    def _cast_json_fn(a):
        if len(a) != 1:
            return None
        cm = re.match(r"(.+)\s+AS\s+JSON\s*$", a[0],
                      re.IGNORECASE | re.DOTALL)
        if not cm:
            return None
        x = cm.group(1).strip()
        tj = (f"to_json(named_struct('v', {x}), "
              f"map('ignoreNullFields', 'false'))")
        return (f"(CASE WHEN ({x}) IS NULL THEN NULL "
                f"ELSE substring({tj}, 6, length({tj}) - 6) END)")

    code = _rewrite_calls(code, "CAST", _cast_json_fn)
    if re.search(r"\bAS\s+JSON\b", code, re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "AS JSON outside a plain CAST is not supported — use "
            "to_json(x) / json_parse")
    return code


def _mask(sql: str) -> tuple[str, list[str]]:
    """Mask string literals/comments behind atomic placeholders and
    convert "quoted" identifiers to backticks. Returns (masked, stash)."""
    if "\x00" in sql or "\x01" in sql:
        raise TrinoSqlUnsupported("NUL/SOH bytes in SQL text")
    stash: list[str] = []
    masked_parts = []
    for kind, text in _segments(sql):
        if kind == "string":
            masked_parts.append(f"'\x00{len(stash)}\x00'")
            stash.append(text)
        elif kind == "comment":
            masked_parts.append(f"\x01{len(stash)}\x01")
            stash.append(text)
        elif kind == "ident":
            # "x""y" → `x"y`: Trino doubles quotes to escape; backtick
            # content needs `` for literal backticks (none produced here).
            masked_parts.append("`" + text[1:-1].replace('""', '"') + "`")
        else:
            masked_parts.append(text)
    return "".join(masked_parts), stash


def _unmask(code: str, stash: list[str]) -> str:
    """Restore masked literals/comments into the rewritten statement.

    Trino string literals have NO escape character — a backslash is a
    literal backslash (the only escape is '' for a quote). Spark's
    parser (spark.sql and F.expr alike) consumes one backslash layer by
    default ('\\d' parses as 'd'), so every backslash in a restored
    literal is doubled here — the regex in ``regexp_like(x, '\\d+')``
    survives the trip exactly as Trino would run it. Literals the
    rewrites themselves emit (requote'd split delimiters, Java date
    patterns) are ALSO stash entries since r9 (advice: raw quoted text
    in the masked stream broke the literal-atomicity invariant), so
    they carry SINGLE backslashes and get the same doubling here.
    """
    code = _STRING_PH_RE.sub(
        lambda m: stash[int(m.group(1))].replace("\\", "\\\\"), code)
    return _COMMENT_PH_RE.sub(lambda m: stash[int(m.group(1))], code)


#: GROUPS window-frame spec: PARTITION/ORDER + a GROUPS frame whose
#: bounds are the standard five forms (EXCLUDE clauses don't match and
#: raise the named error below).
_GROUPS_BOUND = (r"(?:UNBOUNDED\s+PRECEDING|UNBOUNDED\s+FOLLOWING|"
                 r"\d+\s+PRECEDING|\d+\s+FOLLOWING|CURRENT\s+ROW)")
_GROUPS_SPEC_RE = re.compile(
    r"^\s*(?:PARTITION\s+BY\s+(?P<part>.+?)\s+)?"
    r"ORDER\s+BY\s+(?P<ord>.+?)\s+"
    r"GROUPS\s+(?:BETWEEN\s+(?P<lo>" + _GROUPS_BOUND + r")\s+"
    r"AND\s+(?P<hi>" + _GROUPS_BOUND + r")"
    r"|(?P<solo>\d+\s+PRECEDING|UNBOUNDED\s+PRECEDING|CURRENT\s+ROW))"
    r"\s*$",
    re.IGNORECASE | re.DOTALL)


def _rewrite_groups_frames(masked: str) -> str:
    """Lower ``GROUPS BETWEEN …`` window frames (Trino-supported, no
    Spark syntax) by the exact peer-group equivalence the
    ``groups_frame`` operator uses (operators/windows.py:155): a
    dense_rank group index in an inlined subquery, then the SAME frame
    in RANGE mode over that index — definitionally the GROUPS frame,
    and both windows share one exchange+sort in the plan. Pure text:
    the OVER spec is rewritten to ``ORDER BY _grpN RANGE BETWEEN …``
    and the single-table FROM is wrapped as
    ``(SELECT *, dense_rank() OVER (…) AS _grpN FROM t) AS t`` —
    aliased with the original name so qualified references survive.
    Restricted to a single plain-table FROM (the splice target must be
    unambiguous); anything else raises the named error.
    """
    if not re.search(r"\bGROUPS\b", masked, re.IGNORECASE):
        return masked
    # Collect every OVER(...) containing a GROUPS frame.
    grp_specs: dict[tuple[str, str], str] = {}   # (part, ord) -> col
    spans: list[tuple[int, int, str]] = []       # (start, end, new spec)
    for m in re.finditer(r"\bOVER\s*\(", masked, re.IGNORECASE):
        open_i = m.end() - 1
        close_i = _find_close(masked, open_i)
        spec = masked[open_i + 1:close_i]
        if not re.search(r"\bGROUPS\b", spec, re.IGNORECASE):
            continue
        sm = _GROUPS_SPEC_RE.match(spec)
        if not sm:
            raise TrinoSqlUnsupported(
                f"GROUPS window frame {spec!r} — supported: [PARTITION "
                "BY …] ORDER BY … GROUPS [BETWEEN] with the five "
                "standard bounds (no EXCLUDE)")
        part = re.sub(r"\s+", " ", (sm.group("part") or "").strip())
        ordr = re.sub(r"\s+", " ", sm.group("ord").strip())
        key = (part.lower(), ordr.lower())
        if key not in grp_specs:
            grp_specs[key] = (f"_grp{len(grp_specs)}", part, ordr)
        col = grp_specs[key][0]
        lo = sm.group("lo") or sm.group("solo")
        hi = sm.group("hi") or "CURRENT ROW"
        new = ((f"PARTITION BY {part} " if part else "")
               + f"ORDER BY {col} RANGE BETWEEN {lo} AND {hi}")
        spans.append((open_i + 1, close_i, new))
    if not spans:
        return masked
    # The lowering adds helper _grpN columns to the wrapped table, so a
    # SELECT * (or t.*) would silently gain them in its output — refuse
    # rather than change the result schema (a pure-text rewriter cannot
    # expand * to the table's real column list).
    if re.search(r"\bSELECT\s+(?:DISTINCT\s+)?\*|\.\s*\*", masked,
                 re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "SELECT * with a GROUPS window frame — the lowering adds a "
            "helper group-index column to the scanned table; project "
            "columns explicitly")
    # Splice target: exactly one plain-table FROM.
    froms = list(re.finditer(
        r"\bFROM\s+([A-Za-z_][\w.]*|`[^`]+`)(?!\s*\()", masked,
        re.IGNORECASE))
    if len(froms) != 1 or re.search(r"\bJOIN\b|\bFROM\s*\(", masked,
                                    re.IGNORECASE):
        raise TrinoSqlUnsupported(
            "GROUPS window frames are lowered only over a single-table "
            "FROM — rewrite the query so the GROUPS window reads one "
            "table/view")
    for start, end, new in sorted(spans, reverse=True):
        masked = masked[:start] + new + masked[end:]
    fm = list(re.finditer(
        r"\bFROM\s+([A-Za-z_][\w.]*|`[^`]+`)", masked, re.IGNORECASE))[0]
    tbl = fm.group(1)
    # Subquery alias: an explicit trailing alias if the query has one
    # ("FROM part p" / "FROM part AS p"), else the last identifier
    # segment ("FROM db.part" cannot be re-aliased as "db.part").
    am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", masked[fm.end():])
    alias = None
    splice_end = fm.end()
    if am and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "LIMIT", "FETCH", "HAVING", "UNION",
            "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY", "OFFSET"):
        alias = am.group(1)
        splice_end = fm.end() + am.end()
    if alias is None:
        alias = tbl.strip("`").split(".")[-1]
    grp_cols = ", ".join(
        f"dense_rank() OVER ({('PARTITION BY ' + part + ' ') if part else ''}"
        f"ORDER BY {ordr}) AS {col}"
        for col, part, ordr in grp_specs.values())
    # The inner FROM carries the same alias, so alias-qualified columns
    # inside the OVER specs keep resolving.
    inner = f"(SELECT *, {grp_cols} FROM {tbl} AS {alias}) AS {alias}"
    return masked[:fm.start()] + "FROM " + inner + masked[splice_end:]


_UNICODE_LIT_RE = re.compile(r"\bU&'((?:[^']|'')*)'", re.IGNORECASE)


def _decode_unicode_literals(sql: str) -> str:
    """``U&'…'`` Unicode string literals (wave 20): ``\\XXXX`` (4 hex)
    and ``\\+XXXXXX`` (6 hex) escapes decode to their codepoints,
    ``\\\\`` to a literal backslash — the decoded text becomes an
    ordinary literal BEFORE masking, so every later pass (including
    the backslash-doubling restore) treats it like any other string.
    A custom ``UESCAPE`` clause is refused rather than mis-decoded."""
    if re.search(r"\bUESCAPE\b", sql, re.IGNORECASE) \
            and _UNICODE_LIT_RE.search(sql):
        raise TrinoSqlUnsupported(
            "U&'…' with a custom UESCAPE character is not supported — "
            "use the default backslash escapes")

    def decode(m: re.Match) -> str:
        body = m.group(1)
        out, i, n = [], 0, len(body)
        while i < n:
            c = body[i]
            if c == "\\":
                if body[i + 1:i + 2] == "\\":
                    decoded = "\\"
                    i += 2
                elif body[i + 1:i + 2] == "+":
                    decoded = chr(int(body[i + 2:i + 8], 16))
                    i += 8
                else:
                    decoded = chr(int(body[i + 1:i + 5], 16))
                    i += 5
                # a decoded quote must re-escape to stay inside the
                # literal; pre-existing '' pairs pass through verbatim
                out.append("''" if decoded == "'" else decoded)
            else:
                out.append(c)
                i += 1
        return "'" + "".join(out) + "'"   # '' escapes stay escaped

    try:
        return _UNICODE_LIT_RE.sub(decode, sql)
    except ValueError as exc:
        raise TrinoSqlUnsupported(
            f"malformed U&'…' Unicode escape: {exc}") from None


def rewrite_trino_sql(sql: str) -> str:
    """Rewrite a Trino-dialect SQL string to Spark SQL (pure text)."""
    sql = _decode_unicode_literals(sql)
    masked, stash = _mask(sql)
    masked = _rewrite_groups_frames(masked)
    return _unmask(_rewrite_code(masked, stash), stash)


# ------------------------------------------------- MATCH_RECOGNIZE path

_MR_FROM_RE = re.compile(
    r"([\w.`]+)\s+MATCH_RECOGNIZE\s*\(", re.IGNORECASE)
_MR_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?(\w+)", re.IGNORECASE)
_MR_SECTIONS = [
    ("partition", r"PARTITION\s+BY\b"),
    ("order", r"ORDER\s+BY\b"),
    ("measures", r"MEASURES\b"),
    ("rows_per", r"(?:ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\b"),
    ("after", r"AFTER\s+MATCH\b"),
    ("pattern", r"PATTERN\b"),
    ("subset", r"SUBSET\b"),
    ("define", r"DEFINE\b"),
]
_MR_AGG_RE = re.compile(
    r"^(first|last|sum|avg|min|max)\s*\(\s*([\w`]+)\s*\)$", re.IGNORECASE)
_MR_QAGG_RE = re.compile(
    r"^(first|last|sum|avg|min|max)\s*\(\s*(\w+)\s*\.\s*([\w`]+)\s*\)$",
    re.IGNORECASE)
_MR_QCOUNT_RE = re.compile(
    r"^count\s*\(\s*(\w+)\s*\.\s*\*\s*\)$", re.IGNORECASE)


def _mr_qual_agg(fn: str, ls: str, col: str, is_int: bool, running: bool):
    """Measure callable for a variable/SUBSET-qualified aggregate
    ``fn(VAR.col)``: only the match rows whose classifier letter is in
    ``ls`` participate (Trino's primary-variable / SUBSET semantics).
    FINAL (and ONE ROW PER MATCH): one aggregate over those rows —
    NULL when the match contains none. RUNNING (ALL ROWS): a per-row
    vector over the match prefix — NULL until the first qualifying row
    has been seen. The per-match Python loops run inside the operator's
    existing pandas walk (no extra distribution cost)."""
    import pandas as pd

    def sel(c, m):
        idx = [i for i, ch in enumerate(m.group(0)) if ch in ls]
        return c.iloc[idx]

    if fn == "count":   # count(VAR.*): 0 (never NULL), even when empty
        from itertools import accumulate
        if running:
            return (lambda c, m:
                    list(accumulate(int(ch in ls) for ch in m.group(0)))
                    if len(c) else 0)
        return lambda c, m: sum(ch in ls for ch in m.group(0))

    if not running:
        def final(c, m):
            q = sel(c, m)
            if not len(q):
                return None
            if fn == "first":
                return q.iloc[0][col]
            if fn == "last":
                return q.iloc[-1][col]
            if fn == "sum":
                v = q[col].sum()
                return int(v) if is_int else float(v)
            if fn == "avg":
                return float(q[col].mean())
            return getattr(q[col], fn)()
        return final

    def run(c, m):
        if not len(c):
            return None
        mask = [ch in ls for ch in m.group(0)]
        vals = c[col].tolist()
        out: list = []
        if fn == "sum":
            # seen flips only when a NON-NULL value is accumulated
            # (r9, advice): Trino's RUNNING sum over only-NULL
            # qualifying rows stays NULL — flipping on the first
            # qualifying row emitted a premature 0.
            acc, seen = 0, False
            for v, ok in zip(vals, mask):
                if ok and not pd.isna(v):
                    seen = True
                    acc += v
                out.append((int(acc) if is_int else float(acc))
                           if seen else None)
            return out
        if fn == "avg":
            acc, k = 0.0, 0
            for v, ok in zip(vals, mask):
                if ok and not pd.isna(v):
                    acc, k = acc + v, k + 1
                out.append(float(acc / k) if k else None)
            return out
        if fn == "first":
            cur, seen = None, False
            for v, ok in zip(vals, mask):
                if ok and not seen:
                    cur, seen = v, True
                out.append(cur if seen else None)
            return out
        if fn == "last":
            cur = None
            for v, ok in zip(vals, mask):
                if ok:
                    cur = v
                out.append(cur)
            return out
        cur = None   # min / max
        for v, ok in zip(vals, mask):
            if ok and not pd.isna(v):
                cur = (v if cur is None
                       else (min(cur, v) if fn == "min" else max(cur, v)))
            out.append(cur)
        return out
    return run
_MR_NAV_RE = re.compile(r"\b(PREV|NEXT)\s*\(", re.IGNORECASE)
_MR_QUALIFIED_RE = re.compile(r"\b[A-Za-z_]\w*\s*\.\s*[A-Za-z_]")
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _mr_parse_sections(inner: str) -> dict[str, str]:
    """Slice the MATCH_RECOGNIZE body into its clause texts by keyword
    position (clauses appear in grammar order; each value is the text
    between its keyword and the next)."""
    hits = []
    for name, pat in _MR_SECTIONS:
        m = re.search(pat, inner, re.IGNORECASE)
        if m:
            hits.append((m.start(), m.end(), name))
    hits.sort()
    out = {}
    for i, (start, end, name) in enumerate(hits):
        stop = hits[i + 1][0] if i + 1 < len(hits) else len(inner)
        out[name] = inner[end:stop].strip()
    return out


def execute_match_recognize(spark: SparkSession, sql: str,
                            params: list | None = None) -> DataFrame | None:
    """Execute a statement whose FROM clause is ``tbl MATCH_RECOGNIZE
    (...)`` by lowering the pattern block onto the match_recognize
    operator (operators/pattern.py) and splicing its result back into
    the surrounding statement, which then runs through the normal
    dialect rewrite. Returns None when the statement has no
    MATCH_RECOGNIZE block (caller falls through to the plain path).

    Supported subset (anything else raises TrinoSqlUnsupported naming
    the construct):
    - PARTITION BY + ORDER BY required (an unpartitioned pattern scan
      is a single serial partition — in Trino too — and is refused
      rather than silently bottlenecked);
    - ONE ROW PER MATCH (default) and ALL ROWS PER MATCH (r7 — every
      matched row with per-row ``classifier()``; empty matches
      omitted; + WITH UNMATCHED ROWS r8 — unmatched rows with NULL
      measures, PAST LAST ROW skip only as in Trino), with AFTER
      MATCH SKIP PAST LAST ROW (default),
      SKIP TO NEXT ROW (r8 — overlapping matches, the scan restarts
      one row past each match's first row), or SKIP TO [FIRST|LAST]
      <variable> (r8 — restart AT that variable's first/last matched
      row, with Trino's runtime errors for the non-advancing cases);
      PATTERN supports quantifiers (greedy and reluctant), groups,
      alternation, and PERMUTE (expanded to its preference-ordered
      alternation);
    - every pattern variable must be DEFINEd with a pattern-independent
      row predicate (an undefined variable is always-true in Trino,
      which breaks first-match-wins classification). ``PREV(expr[, n])``
      / ``NEXT(expr[, n])`` ARE supported (r7): they navigate physical
      partition rows in Trino, so they lower to lag/lead columns over
      the (PARTITION BY, ORDER BY) window — still pattern-independent,
      still JVM-side. Self-qualified column references (``X.price``
      inside DEFINE X) resolve to the current row; references
      qualified by OTHER variables are refused;
    - MEASURES limited to match_number(), classifier(), count(*), and
      first/last/sum/avg/min/max over a bare column; in ALL ROWS PER
      MATCH mode (r8) aggregates take Trino's default RUNNING
      semantics — evaluated over the match prefix up to each emitted
      row — or FINAL with the explicit keyword.
    Output columns follow Trino's ONE ROW PER MATCH shape: the
    partition keys plus the measures (plus match_num/matched when no
    measures are declared).
    """
    masked, stash = _mask(sql)
    m = _MR_FROM_RE.search(masked)
    if not m:
        return None
    table = m.group(1).strip("`")
    open_idx = m.end() - 1
    close = _find_close(masked, open_idx)
    sections = _mr_parse_sections(masked[open_idx + 1:close])

    # SUBSET (union variables) is parsed after DEFINE below; subset
    # names are valid in MEASURES aggregates (qualified), not as SKIP
    # TO targets (that lookup raises its named error).
    all_rows = bool(re.search(
        r"ALL\s+ROWS\s+PER\s+MATCH", masked[open_idx + 1:close],
        re.IGNORECASE))
    with_unmatched = bool(re.search(
        r"ALL\s+ROWS\s+PER\s+MATCH\s+WITH\s+UNMATCHED\s+ROWS",
        masked[open_idx + 1:close], re.IGNORECASE))
    # Trino's three ALL-ROWS options are alternatives; SHOW EMPTY
    # MATCHES is the DEFAULT (bare ALL ROWS PER MATCH shows empty
    # matches), OMIT drops them (their match numbers still advance),
    # WITH UNMATCHED implies showing them (r8; operators/pattern.py).
    omit_empty = bool(re.search(
        r"ALL\s+ROWS\s+PER\s+MATCH\s+OMIT\s+EMPTY\s+MATCHES",
        masked[open_idx + 1:close], re.IGNORECASE))
    show_empty = all_rows and not omit_empty and not with_unmatched
    after = sections.get("after")
    after_match = "past_last"
    skip_to_var = None   # (kind, VAR) resolved to a letter after DEFINE
    if after:
        if re.fullmatch(r"SKIP\s+PAST\s+LAST\s+ROW", after, re.IGNORECASE):
            pass
        elif re.fullmatch(r"SKIP\s+TO\s+NEXT\s+ROW", after, re.IGNORECASE):
            after_match = "next_row"   # overlapping matches (r8)
        else:
            vm = re.fullmatch(r"SKIP\s+TO\s+(?:(FIRST|LAST)\s+)?(\w+)",
                              after, re.IGNORECASE)
            if not vm:
                raise TrinoSqlUnsupported(
                    f"AFTER MATCH {after!r} — supported: SKIP PAST LAST "
                    "ROW, SKIP TO NEXT ROW, SKIP TO [FIRST|LAST] "
                    "<variable>")
            # bare SKIP TO var is SKIP TO LAST var in Trino
            skip_to_var = ((vm.group(1) or "LAST").lower(),
                           vm.group(2).upper())
    if "partition" not in sections or "order" not in sections:
        raise TrinoSqlUnsupported(
            "MATCH_RECOGNIZE requires PARTITION BY and ORDER BY here (an "
            "unpartitioned pattern scan is a single serial partition)")
    if "pattern" not in sections or "define" not in sections:
        raise TrinoSqlUnsupported("MATCH_RECOGNIZE needs PATTERN and DEFINE")

    partition_by = [c.strip().strip("`")
                    for c in sections["partition"].split(",")]
    # ASC is the default; a DESC suffix passes through to the operator
    # (r8 — the pattern walks that column descending).
    order_by = [re.sub(r"\s+ASC$", "", c.strip(), flags=re.IGNORECASE)
                .strip("`") for c in sections["order"].split(",")]

    pat_text = sections["pattern"].strip()
    pm = re.match(r"\(", pat_text)
    if not pm:
        raise TrinoSqlUnsupported("PATTERN must be parenthesized")
    pat_body = pat_text[1:_find_close(pat_text, 0)]

    from pyspark.sql import functions as F

    from okera_trino_spark.operators.pattern import match_recognize

    # DEFINE: ordered (variable, predicate) pairs; predicates go through
    # the full dialect rewrite as expression fragments. PREV(expr[, n])
    # / NEXT(expr[, n]) navigate PHYSICAL partition rows in Trino
    # (independent of the pattern), so they lower exactly to lag/lead
    # columns over the (PARTITION BY, ORDER BY) window, computed
    # JVM-side BEFORE classification — the operator's documented
    # contract (operators/pattern.py:17-20). Self-qualified references
    # (``DOWN.price`` inside DEFINE DOWN) are the current row's column;
    # OTHER variables' references are pattern-dependent and refused.
    defines = []
    nav_map: dict[tuple[str, str, int], str] = {}

    def _lower_nav(var: str, cond: str) -> str:
        cond = re.sub(rf"\b{re.escape(var)}\s*\.\s*", "", cond,
                      flags=re.IGNORECASE)
        while True:
            nm = _MR_NAV_RE.search(cond)
            if nm is None:
                break
            open_i = nm.end() - 1
            close_i = _find_close(cond, open_i)
            inner = cond[open_i + 1:close_i]
            if _MR_NAV_RE.search(inner):
                raise TrinoSqlUnsupported(
                    f"DEFINE {var}: nested PREV/NEXT is not supported")
            parts = _split_top_level(inner)
            if len(parts) not in (1, 2):
                raise TrinoSqlUnsupported(
                    f"DEFINE {var}: PREV/NEXT takes (expr[, offset])")
            expr_txt = re.sub(rf"\b{re.escape(var)}\s*\.\s*", "",
                              parts[0].strip(), flags=re.IGNORECASE)
            if _MR_QUALIFIED_RE.search(expr_txt):
                # e.g. PREV(B.value) inside DEFINE A: pattern-dependent
                # navigation — refuse here, BEFORE substitution hides
                # the qualifier from the whole-condition check below.
                raise TrinoSqlUnsupported(
                    f"DEFINE {var}: PREV/NEXT argument references another "
                    "pattern variable (row classification must be "
                    "pattern-independent)")
            off = 1
            if len(parts) == 2:
                if not re.fullmatch(r"\d+", parts[1].strip()):
                    raise TrinoSqlUnsupported(
                        f"DEFINE {var}: PREV/NEXT offset must be an "
                        "integer literal")
                off = int(parts[1].strip())
            key = (nm.group(1).upper(), expr_txt, off)
            if key not in nav_map:
                nav_map[key] = f"_mr_nav{len(nav_map)}"
            cond = cond[:nm.start()] + nav_map[key] + cond[close_i + 1:]
        if _MR_QUALIFIED_RE.search(cond):
            raise TrinoSqlUnsupported(
                f"DEFINE {var}: references qualified by OTHER pattern "
                "variables are not supported (row classification must be "
                "pattern-independent)")
        return cond

    for item in _split_top_level(sections["define"]):
        dm = re.match(r"\s*(\w+)\s+AS\s+(.+)$", item.strip(),
                      re.IGNORECASE | re.DOTALL)
        if not dm:
            raise TrinoSqlUnsupported(f"unparsable DEFINE item: {item!r}")
        var, cond = dm.group(1), dm.group(2)
        cond = _lower_nav(var, cond)
        defines.append((var.upper(),
                        _unmask(_rewrite_code(cond, stash), stash)))
    if len(defines) > 26:
        raise TrinoSqlUnsupported("more than 26 pattern variables")
    letters = {var: chr(ord("A") + i) for i, (var, _) in enumerate(defines)}
    # SUBSET U = (A, B), … — union variables (r8): resolved to letter
    # SETS for qualified MEASURES aggregates.
    qual_sets: dict[str, str] = {v: l for v, l in letters.items()}
    if sections.get("subset"):
        for item in _split_top_level(sections["subset"]):
            sm_ = re.match(r"\s*(\w+)\s*=\s*\((.+)\)\s*$", item.strip(),
                           re.DOTALL)
            if not sm_:
                raise TrinoSqlUnsupported(f"unparsable SUBSET item: {item!r}")
            uname = sm_.group(1).upper()
            if uname in letters:
                raise TrinoSqlUnsupported(
                    f"SUBSET {uname} collides with a pattern variable")
            comps = [c.strip().upper() for c in sm_.group(2).split(",")]
            bad = [c for c in comps if c not in letters]
            if bad:
                raise TrinoSqlUnsupported(
                    f"SUBSET {uname}: undefined pattern variables {bad}")
            qual_sets[uname] = "".join(letters[c] for c in comps)
    if skip_to_var is not None:
        kind, var = skip_to_var
        if var not in qual_sets:
            raise TrinoSqlUnsupported(
                f"AFTER MATCH SKIP TO {kind.upper()} {var}: {var} is "
                "neither a DEFINEd pattern variable nor a SUBSET")
        # A SUBSET target resolves to its member-letter SET — the
        # operator skips to the first/last row mapped to ANY member.
        after_match = f"{kind}:{qual_sets[var]}"

    # PERMUTE(A, B, …) (r8): alternation of every permutation. Trino's
    # preference order IS the lexicographic order of the listed
    # positions, which is exactly itertools.permutations' emission
    # order, and Python regex alternation prefers leftmost — the
    # preferences line up engine-for-engine.
    while True:
        pm2 = re.search(r"\bPERMUTE\s*\(", pat_body, re.IGNORECASE)
        if pm2 is None:
            break
        close_i = _find_close(pat_body, pm2.end() - 1)
        args = [a.strip() for a in pat_body[pm2.end():close_i].split(",")]
        if not (2 <= len(args) <= 6):
            raise TrinoSqlUnsupported(
                "PERMUTE takes 2-6 variables here (the expansion is "
                "factorial)")
        if not all(re.fullmatch(r"\w+", a) for a in args):
            raise TrinoSqlUnsupported(
                "PERMUTE arguments must be plain pattern variables")
        from itertools import permutations
        alts = "|".join(" ".join(p) for p in permutations(args))
        pat_body = (pat_body[:pm2.start()] + "(" + alts + ")"
                    + pat_body[close_i + 1:])

    # PATTERN: identifiers must all be defined; quantifier punctuation
    # passes through (validated again by the operator) — including
    # reluctant quantifiers (``B+?``), the ^/$ partition anchors and
    # {- -} output exclusions (r8; quantified/nested-in-group forms r9
    # via the regex module's every-repetition group spans), which
    # implement Trino's exact preference/anchor semantics over the
    # per-partition symbol string (exclusions become named groups in
    # the operator).
    pattern = ""
    for tok in re.finditer(r"[A-Za-z_]\w*|[^A-Za-z_\s]", pat_body):
        text = tok.group(0)
        if re.match(r"[A-Za-z_]", text):
            if text.upper() not in letters:
                raise TrinoSqlUnsupported(
                    f"pattern variable {text} has no DEFINE (always-true "
                    "variables break first-match-wins classification)")
            pattern += letters[text.upper()]
        else:
            pattern += text

    df = spark.table(table)
    if nav_map:
        from pyspark.sql import Window

        from okera_trino_spark.operators.pattern import order_sort_cols

        w = Window.partitionBy(*partition_by).orderBy(
            *order_sort_cols(order_by)[1])
        for (kind, expr_txt, off), name in nav_map.items():
            src = F.expr(_unmask(_rewrite_code(expr_txt, stash), stash))
            nav = F.lag(src, off) if kind == "PREV" else F.lead(src, off)
            df = df.withColumn(name, nav.over(w))
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    measures: dict = {}
    schema_parts: list[str] = []
    renames: list[tuple[str, str]] = []   # (output col, alias)
    used_cols: list[str] = []             # columns the measures read
    if sections.get("measures"):
        for item in _split_top_level(sections["measures"]):
            mm = re.match(r"\s*(.+?)\s+AS\s+(\w+)\s*$", item.strip(),
                          re.IGNORECASE | re.DOTALL)
            if not mm:
                raise TrinoSqlUnsupported(
                    f"MEASURES item needs AS alias: {item!r}")
            expr, alias = mm.group(1).strip(), mm.group(2)
            # RUNNING (Trino's ALL ROWS default) vs FINAL semantics.
            # In ONE ROW PER MATCH the output point is the completed
            # match, so the two coincide — strip and proceed.
            sem = "running"
            sm_ = re.match(r"(RUNNING|FINAL)\s+(.+)$", expr,
                           re.IGNORECASE | re.DOTALL)
            if sm_:
                sem = sm_.group(1).lower()
                expr = sm_.group(2).strip()
            if re.fullmatch(r"match_number\s*\(\s*\)", expr, re.IGNORECASE):
                renames.append(("match_num", alias))
                continue
            if all_rows and re.fullmatch(r"classifier\s*\(\s*\)", expr,
                                         re.IGNORECASE):
                # per-row classifier column comes from the operator.
                renames.append(("classifier", alias))
                continue
            if all_rows:
                # r8: per-row measures. The callable returns a VECTOR
                # aligned to the match rows (RUNNING — aggregate over
                # the match prefix up to each row) or a scalar that
                # broadcasts (FINAL — the whole-match aggregate on
                # every row), computed inside the same pandas walk.
                if re.fullmatch(r"count\s*\(\s*\*?\s*\)", expr,
                                re.IGNORECASE):
                    # Over an EMPTY match both forms are 0 (Trino);
                    # the scalar 0 broadcasts to the one emitted row.
                    if sem == "running":
                        measures[alias] = (
                            lambda c, m:
                            list(range(1, len(c) + 1)) if len(c) else 0)
                    else:
                        measures[alias] = lambda c, m: len(c)
                    schema_parts.append(f"{alias} bigint")
                    continue
                qagg = (_MR_QCOUNT_RE.match(expr)
                        or _MR_QAGG_RE.match(expr))
                if qagg:   # variable/SUBSET-qualified aggregate (r8)
                    if qagg.re is _MR_QCOUNT_RE:
                        fn, name, col = "count", qagg.group(1).upper(), None
                    else:
                        fn, name, col = (qagg.group(1).lower(),
                                         qagg.group(2).upper(),
                                         qagg.group(3).strip("`"))
                    if name not in qual_sets:
                        raise TrinoSqlUnsupported(
                            f"MEASURES {expr!r}: {name} is neither a "
                            "pattern variable nor a SUBSET")
                    is_int = False
                    if col is not None:
                        if col not in types:
                            raise TrinoSqlUnsupported(
                                f"MEASURES column {col!r} unknown")
                        used_cols.append(col)
                        is_int = types[col] in _INT_TYPES
                    measures[alias] = _mr_qual_agg(
                        fn, qual_sets[name], col, is_int,
                        sem == "running")
                    out_t = ("bigint" if fn == "count"
                             or (fn == "sum" and is_int)
                             else "double" if fn in ("sum", "avg")
                             else types[col])
                    schema_parts.append(f"{alias} {out_t}")
                    continue
                am = _MR_AGG_RE.match(expr)
                if not am:
                    raise TrinoSqlUnsupported(
                        f"ALL ROWS PER MATCH MEASURES {expr!r} — "
                        "supported: match_number(), classifier(), "
                        "[RUNNING|FINAL] count(*)/first/last/sum/avg/"
                        "min/max(column), each optionally qualified by "
                        "a pattern variable or SUBSET (VAR.col, VAR.*)")
                fn, col = am.group(1).lower(), am.group(2).strip("`")
                if col not in types:
                    raise TrinoSqlUnsupported(
                        f"MEASURES column {col!r} unknown")
                used_cols.append(col)
                t_ = types[col]
                run = sem == "running"
                # Empty-match contract (show_empty): the zero-row
                # slice means NULL for every aggregate but count —
                # RUNNING vectors come back zero-length (the emit loop
                # turns them into NULL); the FINAL scalars need
                # explicit guards (pandas would raise on iloc[0] or
                # return 0/NaN where Trino says NULL).
                if fn == "first":   # first row either way
                    measures[alias] = (
                        lambda c, m, col=col:
                        c.iloc[0][col] if len(c) else None)
                    schema_parts.append(f"{alias} {t_}")
                elif fn == "last":
                    # RUNNING last = the current row's value
                    measures[alias] = (
                        (lambda c, m, col=col: list(c[col])) if run
                        else (lambda c, m, col=col:
                              c.iloc[-1][col] if len(c) else None))
                    schema_parts.append(f"{alias} {t_}")
                elif fn == "sum":
                    if t_ in _INT_TYPES:
                        measures[alias] = (
                            (lambda c, m, col=col:
                             [int(v) for v in c[col].cumsum()]) if run
                            else (lambda c, m, col=col:
                                  int(c[col].sum()) if len(c) else None))
                        schema_parts.append(f"{alias} bigint")
                    else:
                        measures[alias] = (
                            (lambda c, m, col=col:
                             [float(v) for v in c[col].cumsum()]) if run
                            else (lambda c, m, col=col:
                                  float(c[col].sum()) if len(c) else None))
                        schema_parts.append(f"{alias} double")
                elif fn == "avg":
                    measures[alias] = (
                        (lambda c, m, col=col:
                         [float(v) for v in c[col].expanding().mean()])
                        if run
                        else (lambda c, m, col=col:
                              float(c[col].mean()) if len(c) else None))
                    schema_parts.append(f"{alias} double")
                else:   # min / max
                    agg = fn
                    measures[alias] = (
                        (lambda c, m, col=col, agg=agg:
                         list(getattr(c[col], "cum" + agg)())) if run
                        else (lambda c, m, col=col, agg=agg:
                              getattr(c[col], agg)() if len(c) else None))
                    schema_parts.append(f"{alias} {t_}")
                continue
            if re.fullmatch(r"classifier\s*\(\s*\)", expr, re.IGNORECASE):
                # Trino ONE ROW PER MATCH classifier(): the pattern
                # variable of the LAST row of the match, by its
                # original (upper-cased) name.
                rev = {letter: var for var, letter in letters.items()}
                measures[alias] = (
                    lambda c, m, rev=rev:
                    rev[m.group(0)[-1]] if m.group(0) else None)
                schema_parts.append(f"{alias} string")
                continue
            if re.fullmatch(r"count\s*\(\s*\*?\s*\)", expr, re.IGNORECASE):
                measures[alias] = lambda c, m: len(c)
                schema_parts.append(f"{alias} bigint")
                continue
            qagg = _MR_QCOUNT_RE.match(expr) or _MR_QAGG_RE.match(expr)
            if qagg:   # variable/SUBSET-qualified aggregate (r8);
                # RUNNING == FINAL at the one output point per match.
                if qagg.re is _MR_QCOUNT_RE:
                    fn, name, col = "count", qagg.group(1).upper(), None
                else:
                    fn, name, col = (qagg.group(1).lower(),
                                     qagg.group(2).upper(),
                                     qagg.group(3).strip("`"))
                if name not in qual_sets:
                    raise TrinoSqlUnsupported(
                        f"MEASURES {expr!r}: {name} is neither a "
                        "pattern variable nor a SUBSET")
                is_int = False
                if col is not None:
                    if col not in types:
                        raise TrinoSqlUnsupported(
                            f"MEASURES column {col!r} unknown")
                    used_cols.append(col)
                    is_int = types[col] in _INT_TYPES
                measures[alias] = _mr_qual_agg(
                    fn, qual_sets[name], col, is_int, running=False)
                out_t = ("bigint" if fn == "count"
                         or (fn == "sum" and is_int)
                         else "double" if fn in ("sum", "avg")
                         else types[col])
                schema_parts.append(f"{alias} {out_t}")
                continue
            am = _MR_AGG_RE.match(expr)
            if not am:
                raise TrinoSqlUnsupported(
                    f"MEASURES expression {expr!r} — supported: "
                    "match_number(), classifier(), count(*), "
                    "first/last/sum/avg/min/max(column), each optionally "
                    "qualified by a pattern variable or SUBSET "
                    "(VAR.col, VAR.*)")
            fn, col = am.group(1).lower(), am.group(2).strip("`")
            if col not in types:
                raise TrinoSqlUnsupported(f"MEASURES column {col!r} unknown")
            used_cols.append(col)
            t_ = types[col]
            # ONE ROW PER MATCH always includes empty matches (Trino);
            # the zero-row guards mirror the ALL-ROWS forms above.
            if fn == "first":
                measures[alias] = (
                    lambda c, m, col=col:
                    c.iloc[0][col] if len(c) else None)
                schema_parts.append(f"{alias} {t_}")
            elif fn == "last":
                measures[alias] = (
                    lambda c, m, col=col:
                    c.iloc[-1][col] if len(c) else None)
                schema_parts.append(f"{alias} {t_}")
            elif fn == "sum":
                if t_ in _INT_TYPES:
                    measures[alias] = (
                        lambda c, m, col=col:
                        int(c[col].sum()) if len(c) else None)
                    schema_parts.append(f"{alias} bigint")
                else:
                    measures[alias] = (
                        lambda c, m, col=col:
                        float(c[col].sum()) if len(c) else None)
                    schema_parts.append(f"{alias} double")
            elif fn == "avg":
                measures[alias] = (
                    lambda c, m, col=col:
                    float(c[col].mean()) if len(c) else None)
                schema_parts.append(f"{alias} double")
            else:  # min / max
                agg = fn
                measures[alias] = (
                    lambda c, m, col=col, agg=agg:
                    getattr(c[col], agg)() if len(c) else None)
                schema_parts.append(f"{alias} {t_}")

    symbols = [(letters[v], F.expr(cond)) for v, cond in defines]
    if all_rows:
        if with_unmatched and after_match != "past_last":
            raise TrinoSqlUnsupported(
                "WITH UNMATCHED ROWS requires AFTER MATCH SKIP PAST "
                "LAST ROW (Trino's own restriction)")
        out = match_recognize(
            df, partition_by, order_by, symbols=symbols, pattern=pattern,
            measures=measures,
            measure_schema=", ".join(schema_parts),
            all_rows=True, after_match=after_match,
            with_unmatched=with_unmatched, show_empty=show_empty)
        # The operator emits the internal letter; surface Trino's
        # classifier() contract — the DEFINE variable name.
        cls = None
        for var, letter in letters.items():
            cond_ = F.col("classifier") == letter
            cls = (F.when(cond_, F.lit(var)) if cls is None
                   else cls.when(cond_, F.lit(var)))
        out = out.withColumn("classifier", cls)
        for src, alias in renames:
            out = out.withColumn(alias, F.col(src))
        # Trino ALL ROWS PER MATCH output: the input columns (nav
        # helper columns dropped) + the declared measures; without a
        # MEASURES clause, match_num/classifier are kept by their
        # operator names.
        base = [c for c in spark.table(table).columns]
        extras = ([a for _, a in renames] + list(measures)
                  or ["match_num", "classifier"])
        out = out.select(*base, *extras)
    else:
        out = match_recognize(
            df, partition_by, order_by, symbols=symbols, pattern=pattern,
            measures=measures,
            measure_schema=", ".join(schema_parts),
            used_columns=used_cols, after_match=after_match,
        )
        for src, alias in renames:
            out = out.withColumn(alias, F.col(src))
        if measures or renames:
            # Trino ONE ROW PER MATCH output: partition keys + measures.
            out = out.select(*partition_by,
                             *[a for _, a in renames], *measures.keys())
    out.createOrReplaceTempView("_mr_result")

    # Splice: the table reference + pattern block (+ optional alias)
    # becomes the result view; the remaining statement goes through the
    # normal dialect rewrite.
    tail_at = close + 1
    am = _MR_ALIAS_RE.match(masked, tail_at)
    alias_txt = ""
    if am and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "LIMIT", "FETCH", "HAVING", "UNION",
            "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT", "FULL", "CROSS",
            "ON"):
        alias_txt = " " + am.group(1)
        tail_at = am.end()
    spliced = (masked[:m.start(1)] + "_mr_result" + alias_txt
               + masked[tail_at:])
    code = _unmask(_rewrite_code(spliced, stash), stash)
    ensure_dialect_udfs(spark, code)
    if params is not None:
        return spark.sql(code, args=params)
    return spark.sql(code)


def ensure_dialect_udfs(spark: SparkSession, sql: str) -> None:
    """Register the session UDFs a rewritten statement may reference.

    ``normalize()`` (no Spark Unicode normalizer) and ``xxhash64()``
    (Trino's seed-0 VARBINARY form — Spark's builtin is seed-42
    BIGINT); registration is gated on the original text actually
    mentioning them, so the common path pays two regexes and no py4j
    round-trips."""
    if re.search(r"\b(trino_)?normalize\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import (
            register_unicode_normalize)
        register_unicode_normalize(spark)
    if re.search(r"\b(trino_)?xxhash64\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import (
            register_xxhash64)
        register_xxhash64(spark)
    if re.search(r"\b(trino_)?word_stem\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.stemmer import register_word_stem
        register_word_stem(spark)
    if re.search(r"\b(trino_)?(to|from)_base32\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import register_base32
        register_base32(spark)
    if re.search(r"\b(trino_)?(hmac_(md5|sha1|sha256|sha512)"
                 r"|(to|from)_ieee754_(32|64))\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import (
            register_binary_codecs)
        register_binary_codecs(spark)
    if re.search(r"\b(trino_)?(inverse_)?(normal|beta)_cdf\s*\(",
                 sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import (
            register_stat_fns)
        register_stat_fns(spark)
    if re.search(r"\b(trino_)?murmur3\s*\(", sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import (
            register_murmur3)
        register_murmur3(spark)
    if re.search(r"\b(spooky_hash_v2_(32|64)|trino_spooky(32|64))\s*\(",
                 sql, re.IGNORECASE):
        from okera_trino_spark.functions.trino_compat import register_spooky
        register_spooky(spark)


def execute_trino(spark: SparkSession, sql: str,
                  sf_dir: str | None = None,
                  params: list | None = None) -> DataFrame:
    """Run a Trino-dialect SQL string on Spark.

    When ``sf_dir`` is given, the fixture tables are registered as temp
    views first (idempotent), so reference queries run verbatim against
    the same catalog names. ``params`` binds Trino/JDBC positional ``?``
    markers (the PREPARE … EXECUTE … USING values) through Spark's own
    parameterized ``spark.sql`` — values never touch the SQL text, so
    there is nothing to escape. Returns the lazily-planned DataFrame —
    Catalyst applies pushdown/pruning/join planning to the rewritten
    query exactly as to native Spark SQL.
    """
    if sf_dir is not None:
        register_tables(spark, sf_dir)
    ensure_dialect_udfs(spark, sql)
    explained = execute_trino_explain(spark, sql, sf_dir, params)
    if explained is not None:
        return explained
    if re.search(r"\bMATCH_RECOGNIZE\b", sql, re.IGNORECASE):
        mr = execute_match_recognize(spark, sql, params)
        if mr is not None:
            return mr
    rewritten = rewrite_trino_sql(sql)
    if params is not None:
        return spark.sql(rewritten, args=params)
    return spark.sql(rewritten)


_EXPLAIN_HEAD_RE = re.compile(r"^\s*EXPLAIN\b", re.IGNORECASE)

#: One scan node block in Spark's "formatted" physical plan: header
#: line "(N) Scan <format> ..." followed by its detail lines up to the
#: next blank line. EXPLAIN (TYPE IO) parses the fields per block, so
#: intervening lines (PartitionFilters on partitioned tables, Batched,
#: DataFilters) cannot break the extraction, and every file format the
#: source layer registers (parquet/orc/csv/json/text) is reported.
#: Detail lines are terminated by \n OR end-of-string (r12, ADVICE):
#: a plan whose last scan block ends without a trailing newline must
#: not silently drop its final line (typically ReadSchema).
_IO_BLOCK_RE = re.compile(
    r"\(\d+\) Scan (?:parquet|orc|csv|json|text)[^\n]*\n"
    r"((?:[^\n]+(?:\n|$))*)")


def _split_schema_fields(s: str) -> list[str]:
    """Split a ReadSchema struct body on depth-0 commas, tracking
    ``<>`` nesting (array/map/struct element types carry commas)."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "<([":
            depth += 1
        elif c in ">)]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in parts if p.strip()]


def _split_filters(s: str) -> list[str]:
    """Split Spark's PushedFilters rendering on filter boundaries.

    Depth-0 commas alone are not enough (r12, ADVICE): Spark renders
    filter values UNQUOTED, so a string literal carrying parens or
    commas can fool a pure depth tracker. Two hardenings: depth is
    clamped at 0 (a stray ``)`` inside a literal cannot take depth
    negative), and a split point must be followed by something shaped
    like a filter constructor (``Name(``) — a depth-0 comma inside a
    literal such as ``EqualTo(name, Smith), Jr.(sic`` keeps
    accumulating unless what follows parses as a new filter. Literals
    that contain text shaped exactly like a constructor remain a
    documented cosmetic limit of the unquoted rendering."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif (c == "," and depth == 0
              and re.match(r"\s*[A-Z]\w*\(", s[i + 1:])):
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _one_text_row(spark: SparkSession, column: str, text: str) -> DataFrame:
    return local_frame(spark, [(text,)], f"`{column}` string")


def execute_trino_explain(spark: SparkSession, sql: str,
                          sf_dir: str | None = None,
                          params: list | None = None) -> DataFrame | None:
    """Trino's EXPLAIN statement family, lowered onto Spark's plan
    introspection. Returns None when ``sql`` is not an EXPLAIN.

    Surface (Trino 400 grammar — the host engine per the reference's
    pom.xml:41):

    - ``EXPLAIN <stmt>`` / ``EXPLAIN (TYPE DISTRIBUTED) <stmt>`` → the
      physical plan with exchanges (Spark's ``formatted`` mode — the
      fragment-boundary analog of Trino's distributed plan), one row,
      column ``Query Plan`` (Trino's column name).
    - ``EXPLAIN (TYPE LOGICAL)`` → the optimized logical plan.
    - ``EXPLAIN (TYPE VALIDATE)`` → analyzes only; returns ``Valid``
      true. Analysis errors (unknown column/table, type errors) raise
      exactly as Trino's VALIDATE reports them.
    - ``EXPLAIN (TYPE IO, FORMAT JSON)`` → JSON summary of the tables
      the plan reads, with the pruned column set (``ReadSchema``) and
      the filters pushed to each scan — the decision Trino's IO plan
      exists to expose. DOCUMENTED DIVERGENCE: Spark does not estimate
      per-table row counts at parse time, so the Trino estimate block
      is absent; the JSON layout is Spark-flavored, not byte-identical
      to Trino's io-plan JSON.
    - ``EXPLAIN ANALYZE [VERBOSE]`` → EXECUTES the inner statement
      through a zero-copy noop sink (full evaluation, no driver
      transfer — results are discarded exactly as Trino discards
      them), then returns the final plan plus a measured footer
      (output rows via an Observation, wall ms). Spark does not
      annotate per-operator actuals in the plan text the way Trino
      fragments do; the footer carries the measured totals instead.
    - ``FORMAT GRAPHVIZ`` and ``FORMAT JSON`` of TEXT-plan types refuse
      by name (Spark has no graphviz/JSON plan renderer).

    The governed SQL path (sources/catalog.py execute) routes through
    this helper AFTER registering the caller's policy-scoped views, so
    EXPLAIN output can never leak a column the caller cannot read —
    VALIDATE on a hidden column fails analysis like any query.
    """
    m = _EXPLAIN_HEAD_RE.match(sql)
    if m is None:
        return None
    rest = sql[m.end():].lstrip()
    etype, efmt = "DISTRIBUTED", "TEXT"
    had_options = False
    # A leading '(' is only an options list when it is not the start of
    # a parenthesized query (r12, ADVICE): EXPLAIN (SELECT 1) and
    # EXPLAIN ((SELECT ...) UNION ALL ...) are legitimate Trino
    # statements — peek past the parens before committing to options.
    if rest.startswith("(") and re.match(
            r"(?:\(\s*)+(SELECT|WITH|VALUES|TABLE)\b", rest,
            re.IGNORECASE):
        pass
    elif rest.startswith("("):
        had_options = True
        close = rest.find(")")
        if close < 0:
            raise TrinoSqlUnsupported("EXPLAIN options: unclosed '('")
        for part in rest[1:close].split(","):
            kv = part.split()
            k = kv[0].upper() if kv else ""
            v = kv[1].upper() if len(kv) == 2 else ""
            if k == "TYPE" and v in ("LOGICAL", "DISTRIBUTED",
                                     "VALIDATE", "IO"):
                etype = v
            elif k == "FORMAT" and v in ("TEXT", "JSON"):
                efmt = v
            elif k == "FORMAT" and v == "GRAPHVIZ":
                raise TrinoSqlUnsupported(
                    "EXPLAIN (FORMAT GRAPHVIZ): Spark has no graphviz "
                    "plan renderer — use FORMAT TEXT")
            else:
                raise TrinoSqlUnsupported(
                    f"EXPLAIN option {part.strip()!r} (supported: TYPE "
                    "LOGICAL|DISTRIBUTED|VALIDATE|IO, FORMAT TEXT|JSON)")
        rest = rest[close + 1:].lstrip()
    analyze = re.match(r"^ANALYZE\b(\s+VERBOSE\b)?", rest, re.IGNORECASE)
    if analyze:
        if had_options:
            raise TrinoSqlUnsupported(
                "EXPLAIN ANALYZE takes no (TYPE/FORMAT ...) options "
                "(Trino grammar)")
        rest = rest[analyze.end():].lstrip()
    if not rest:
        raise TrinoSqlUnsupported("EXPLAIN requires a statement")
    # Query statements only: Spark executes DDL/utility commands EAGERLY
    # at planning time, so EXPLAIN over CREATE/DROP/SET/... would run
    # the command instead of describing it (Trino never executes under
    # EXPLAIN). Refuse by name rather than silently mutate state.
    if not re.match(r"(?:\(\s*)*(SELECT|WITH|VALUES|TABLE)\b", rest,
                    re.IGNORECASE):
        head = rest.split(None, 1)[0].upper()
        raise TrinoSqlUnsupported(
            f"EXPLAIN over {head} statements: Spark plans commands "
            "eagerly, so explaining would execute them — EXPLAIN "
            "supports query statements (SELECT/WITH/VALUES/TABLE)")
    if efmt == "JSON" and etype != "IO":
        raise TrinoSqlUnsupported(
            f"EXPLAIN (TYPE {etype}, FORMAT JSON): Spark renders "
            "TEXT plans only — FORMAT JSON is supported for TYPE IO")
    inner = execute_trino(spark, rest, sf_dir, params)
    qe = inner._jdf.queryExecution()
    if etype == "VALIDATE":
        inner.schema  # force analysis; raises on invalid references
        return local_frame(spark, [(True,)], "Valid boolean")
    if analyze:
        import time as _time

        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation()
        observed = inner.observe(obs, F.count(F.lit(1)).alias("rows"))
        t0 = _time.time()
        observed.write.format("noop").mode("overwrite").save()
        wall_ms = (_time.time() - t0) * 1000.0
        plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        footer = (f"Execution: output rows {obs.get['rows']}, "
                  f"wall {wall_ms:.0f} ms (measured via noop sink; "
                  "per-operator actuals are in the Spark UI, not the "
                  "plan text)")
        return _one_text_row(spark, "Query Plan", plan + "\n" + footer)
    if etype == "IO":
        import json as _json
        plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        tables = []
        for block in _IO_BLOCK_RE.findall(plan):
            # Per-line field extraction within the scan block — order-
            # and presence-independent, so PartitionFilters/DataFilters
            # lines on partitioned tables can't derail the parse, and
            # Spark's 100-char metadata truncation (an unterminated
            # "[...") degrades only that field, never the block.
            loc = re.search(r"Location:[^\[\n]*\[([^\]\n]*)", block)
            pushed = re.search(r"PushedFilters:\s*\[([^\n]*?)\]?\s*$",
                               block, re.MULTILINE)
            schema = re.search(r"ReadSchema:\s*struct<(.*?)>?\s*$",
                               block, re.MULTILINE)
            path = (loc.group(1).split(",")[0].strip() if loc else "")
            name = path.rstrip("/").rsplit("/", 1)[-1]
            name = re.sub(r"\.(parquet|orc|csv|json|txt)$", "", name)
            cols = [f.split(":", 1)[0].strip()
                    for f in _split_schema_fields(
                        schema.group(1) if schema else "")]
            filters = _split_filters(pushed.group(1)) if pushed else []
            entry = {"table": {"catalog": "spark_catalog",
                               "schemaTable": {"schema": "default",
                                               "table": name}},
                     "columns": cols,
                     "pushedFilters": filters}
            if entry not in tables:  # self-joins scan a table twice
                tables.append(entry)
        text = _json.dumps({"inputTableColumnInfos": tables})
        return _one_text_row(spark, "Query Plan", text)
    if etype == "LOGICAL":
        text = str(qe.optimizedPlan())
    else:  # DISTRIBUTED — the default
        text = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return _one_text_row(spark, "Query Plan", text)


# ------------------------------------------------------ registered keys
# Two end-to-end keys exercise the STRING path the way a migrating
# reference user would: submit Trino SQL text, get oracle-matched rows.

from okera_trino_spark.registry import query  # noqa: E402

#: Composite analytics in pure Trino dialect: timezone-less TIMESTAMP
#: literal, date_add('unit', n, ts) argument order, strpos, a
#: double-quoted identifier alias, and FETCH FIRST pagination.
TRINO_SQL_COMPOSITE = """
SELECT o_orderpriority AS "Priority",
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < date_add('month', 6, TIMESTAMP '1995-01-01 00:00:00')
  AND strpos(o_orderstatus, 'F') = 0
GROUP BY o_orderpriority
ORDER BY "Priority"
FETCH FIRST 10 ROWS ONLY
"""

#: Scalar-function gauntlet in Trino dialect over events:
#: json_extract_scalar, ISO day_of_week, date_diff('unit', a, b),
#: TRY(CAST(...)), CAST(... AS VARCHAR).
TRINO_SQL_FNS = """
SELECT event_id,
       json_extract_scalar(props, '$.k') AS k_raw,
       TRY(CAST(json_extract_scalar(props, '$.k') AS INTEGER)) AS k_int,
       day_of_week(ts) AS dow,
       date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS hours_in,
       CAST(user_id AS VARCHAR) AS user_str,
       CAST(levenshtein_distance(event_type, 'click') AS INTEGER) AS lev,
       starts_with(event_type, 'cl') AS is_cl
FROM events
WHERE event_type IS NOT NULL
ORDER BY event_id
"""

#: UNNEST lateral family over documents: plain explode, WITH ORDINALITY
#: (1-based), and the multi-argument positional zip with NULL padding —
#: the three lateral shapes Trino array queries use.
TRINO_SQL_UNNEST = """
SELECT w AS word, ord, wu AS word_upper, count(*) AS n
FROM documents
CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS t(w, ord)
CROSS JOIN UNNEST(ARRAY[w, 'pad'], ARRAY[upper(w)]) AS t2(wz, wu)
WHERE strpos(w, 'scan') > 0 AND wu IS NOT NULL
GROUP BY w, ord, wu
"""


@query(
    "q_trino_sql",
    oracle="""
    SELECT o_orderpriority AS "Priority",
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00' + INTERVAL 6 MONTH
      AND strpos(o_orderstatus, 'F') = 0
    GROUP BY o_orderpriority
    ORDER BY 1
    LIMIT 10
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino-SQL STRING front end (What's-missing #1): the reference's
    users submit Trino SQL text (README.md:74-90); this key submits a
    composite Trino-dialect statement — TIMESTAMP literal (tz-less),
    date_add('month', 6, ts), strpos, "quoted" identifier, FETCH FIRST —
    through execute_trino and must oracle-match. The rewrite is pure
    text onto spark.sql, so Catalyst sees a native plan (filter pushdown
    on o_orderdate reaches the parquet scan)."""
    return execute_trino(spark, TRINO_SQL_COMPOSITE, sf_dir)


@query(
    "q_trino_sql_fns",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_raw,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           isodow(ts) AS dow,
           date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS hours_in,
           CAST(user_id AS VARCHAR) AS user_str,
           CAST(levenshtein(event_type, 'click') AS INTEGER) AS lev,
           starts_with(event_type, 'cl') AS is_cl
    FROM events
    WHERE event_type IS NOT NULL
    ORDER BY event_id
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino scalar shims through the STRING path: json_extract_scalar →
    get_json_object, day_of_week → ISO weekday()+1 (Trino Monday=1 vs
    Spark dayofweek Sunday=1), date_diff('hour', a, b) → timestampdiff,
    TRY(CAST(..)) → TRY_CAST, CAST(.. AS VARCHAR) → STRING. All compile
    to JVM builtins — zero Python UDFs in the rewritten plan."""
    return execute_trino(spark, TRINO_SQL_FNS, sf_dir)


#: TPC-H Q1 as a Trino user writes it (interval arithmetic via the
#: Trino date_add form; aggregates rounded identically on both sides so
#: the value hash is float-stable across engines).
TRINO_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= date_add('day', -90, TIMESTAMP '1998-12-01 00:00:00')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q_trino_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00' - INTERVAL 90 DAY
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("trino", "sql", "dialect", "tpch"),
)
def q_trino_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration story end-to-end: TPC-H Q1 in Trino dialect text —
    the pricing-summary query every reference deployment runs — through
    execute_trino, hash-matched against the ANSI oracle. The rewritten
    plan is the SAME Catalyst plan as the native flagship
    (q_pricing_summary): l_shipdate pushed to the parquet scan,
    map-side partial aggregation, one merge exchange
    (tests/test_trino_sql.py::test_trino_q1_plan_pushdown asserts it).
    """
    return execute_trino(spark, TRINO_SQL_TPCH_Q1, sf_dir)


@query(
    "q_trino_sql_unnest",
    oracle="""
    SELECT u.w AS word, u.ord, upper(u.w) AS word_upper, count(*) AS n
    FROM documents,
    LATERAL (SELECT unnest(str_split(text, ' ')) AS w,
                    unnest(generate_series(1, len(str_split(text, ' '))))
                        AS ord) u
    WHERE strpos(u.w, 'scan') > 0
    GROUP BY u.w, u.ord, upper(u.w)
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Trino lateral-UNNEST family through the string path: plain
    ``UNNEST(arr) AS t(c)`` → explode, ``WITH ORDINALITY`` → 1-based
    inline(transform(…)) (Trino ordinality is 1-based; Spark posexplode
    would be 0-based, so the rewrite builds the ordinal itself), and the
    multi-arg positional zip ``UNNEST(a, b) AS t(x, y)`` →
    inline(arrays_zip(a, b)) — whose NULL padding to the longest input
    (asserted via the 'pad'/NULL row the filter removes) matches Trino.
    The oracle reproduces the surviving rows with DuckDB's lateral
    unnest + generate_series ordinal."""
    return execute_trino(spark, TRINO_SQL_UNNEST, sf_dir)


#: Time-zone surface in pure Trino dialect: AT TIME ZONE with a named
#: IANA zone (DST boundary visible in the data: summer/winter events
#: shift by different amounts) and with a fixed offset, plus a
#: tz-suffixed TIMESTAMP WITH TIME ZONE literal. Results are cast to
#: ISO strings so both engines hash wall-clock text, not engine-local
#: datetime representations.
TRINO_SQL_TZ = """
SELECT event_id,
       CAST(date_trunc('second', ts AT TIME ZONE 'America/New_York') AS VARCHAR) AS ny_wall,
       CAST(date_trunc('second', ts AT TIME ZONE '+05:30') AS VARCHAR) AS ist_wall,
       CAST(TIMESTAMP '2024-01-15 12:00:00 +02:00' AS VARCHAR) AS fixed_utc,
       date_diff('hour', TIMESTAMP '2024-01-15 12:00:00 +02:00', ts) AS hrs
FROM events
ORDER BY event_id
"""


@query(
    "q_trino_sql_tz",
    oracle="""
    SELECT event_id,
           strftime(timezone('America/New_York', timezone('UTC', ts)),
                    '%Y-%m-%d %H:%M:%S') AS ny_wall,
           strftime(ts + INTERVAL 330 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS ist_wall,
           '2024-01-15 10:00:00' AS fixed_utc,
           CAST(trunc(epoch(ts - TIMESTAMP '2024-01-15 10:00:00')
                / 3600) AS BIGINT) AS hrs
    FROM events
    ORDER BY event_id
    """,
    tags=("trino", "sql", "dialect", "timezone"),
)
def q_trino_sql_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dialect's time-zone surface (reference type lattice maps
    TIMESTAMP_TZ, RecordServiceMetadata.java:669-677): ``expr AT TIME
    ZONE 'zone'`` → convert_timezone(current_timezone(), zone, expr) —
    the session zone is UTC, so the result is the Trino display
    wall-clock — and the ``TIMESTAMP '... +02:00'`` zoned literal
    normalized to its UTC instant as TIMESTAMP_NTZ. The oracle rebuilds
    the same wall-clocks with DuckDB's ICU timezone() (named zone,
    DST-correct across the fixture's date range) and plain interval
    arithmetic (fixed offset), hash-compared at exact second precision
    via ISO strings."""
    return execute_trino(spark, TRINO_SQL_TZ, sf_dir)


#: Consolidated documents-side dialect breadth (r15: the former
#: q_trino_sql_breadth wave-7/10 key and q_trino_sql_breadth2 wave-12/13
#: key merged into ONE statement — same row set, same per-column
#: oracles; registry-slack consolidation per the r14 verdict item 5).
#: Lambda predicates (any_match/none_match), cardinality, contains,
#: printf-style format, 2-arg regexp, the URL-decomposition family,
#: decimal-scale truncate, reduce→aggregate, recursive-arithmetic TRY,
#: named ROW cast + field access, json_size, split_to_map with
#: metachar delimiters, ISO-8601 ingestion, bit shifts and
#: last_day_of_month.
TRINO_SQL_DOC_BREADTH = """
SELECT doc_id,
       cardinality(split(text, ' ')) AS n_words,
       any_match(split(text, ' '), x -> length(x) > 8) AS has_long,
       none_match(split(text, ' '), x -> length(x) > 50) AS none_huge,
       contains(split(text, ' '), 'the') AS has_the,
       format('%s#%d', lang, doc_id) AS tag,
       length(regexp_replace(text, '[aeiou]')) AS novowel_len,
       url_extract_host('http://docs.example.com:8443/d/'
                        || CAST(doc_id AS VARCHAR)) AS host,
       url_extract_port('http://docs.example.com:8443/x') AS port,
       truncate(doc_id / 7.0, 2) AS t2,
       reduce(split(text, ' '), 0, (s, w) -> s + length(w), s -> s)
           AS chars_ns,
       TRY(n_chars + n_chars * 2 - 1) AS arith3,
       TRY(CAST(n_chars AS DOUBLE) / (n_chars - n_chars)) AS dz,
       CAST(ROW(doc_id * 10, lang) AS ROW(k BIGINT, l VARCHAR)).l
           AS lang2,
       json_size('{"a": [1, 2], "b": {"x": 1}}', '$.a') AS jsz,
       element_at(split_to_map('u.1|v.2', '|', '.'), 'v') AS v_val,
       CAST(from_iso8601_date('2024-03-05') AS VARCHAR) AS iso_d,
       CAST(last_day_of_month(DATE '2024-02-11') AS VARCHAR) AS eom,
       bitwise_left_shift(doc_id, 2) AS shl,
       bitwise_right_shift(doc_id, 1) AS shr
FROM documents
ORDER BY doc_id
"""


@query(
    "q_trino_sql_doc_breadth",
    oracle="""
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_words,
           len(list_filter(str_split(text, ' '),
               x -> length(x) > 8)) > 0 AS has_long,
           len(list_filter(str_split(text, ' '),
               x -> length(x) > 50)) = 0 AS none_huge,
           list_contains(str_split(text, ' '), 'the') AS has_the,
           printf('%s#%d', lang, doc_id) AS tag,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
           'docs.example.com' AS host,
           CAST(8443 AS BIGINT) AS port,
           floor(doc_id / 7.0 * 100) / 100 AS t2,
           -- CAST: DuckDB list_sum over BIGINT lengths yields HUGEINT,
           -- which pandas materializes as float64 — the driver hashes
           -- 126.0 != Spark's 126. BIGINT keeps both sides int64.
           CAST(list_sum(list_transform(str_split(text, ' '),
                                        w -> length(w))) AS BIGINT)
               AS chars_ns,
           n_chars + n_chars * 2 - 1 AS arith3,
           CAST(NULL AS DOUBLE) AS dz,
           lang AS lang2,
           2 AS jsz,
           '2' AS v_val,
           '2024-03-05' AS iso_d,
           '2024-02-29' AS eom,
           doc_id * 4 AS shl,
           doc_id // 2 AS shr
    FROM documents
    ORDER BY doc_id
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_doc_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated documents-side dialect breadth (r15; formerly the
    q_trino_sql_breadth wave-7/10 key, last green r11, and the
    q_trino_sql_breadth2 wave-12/13 key, last green r13 — every column
    and its oracle preserved verbatim, one registry slot instead of
    two). Every function family compiles to a JVM builtin (lambda
    higher-order functions, format_string, regexp, parse_url,
    decimal-scale truncate, nested try_* arithmetic, positional struct
    cast + field access, get_json_object member counting, str_to_map
    with regex-quoted delimiters, ISO-8601 dates, shifts, last_day) —
    the rewritten plan stays whole-stage codegen with zero Python
    UDFs; the DuckDB oracle recomputes each value independently."""
    return execute_trino(spark, TRINO_SQL_DOC_BREADTH, sf_dir)


#: MATCH_RECOGNIZE in Trino dialect: the conversion-funnel query shape,
#: lowered onto the match_recognize operator (operators/pattern.py) and
#: spliced back into the surrounding statement.
TRINO_SQL_MR = """
SELECT user_id, mn, cls, n_rows
FROM events MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES match_number() AS mn, classifier() AS cls, count(*) AS n_rows
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (V C+ P)
    DEFINE V AS event_type = 'view',
           C AS event_type = 'click',
           P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr",
    oracle="""
    WITH sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), matches AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'VC+P')) AS cls,
               generate_subscripts(regexp_extract_all(s, 'VC+P'), 1) AS mn
        FROM sym
    )
    SELECT user_id, CAST(mn AS BIGINT) AS mn,
           right(cls, 1) AS cls,
           CAST(length(cls) AS BIGINT) AS n_rows
    FROM matches
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino MATCH_RECOGNIZE through the STRING path
    (execute_match_recognize): PARTITION/ORDER/MEASURES/PATTERN/DEFINE
    parsed from dialect text, DEFINE predicates dialect-rewritten,
    classification + shuffle JVM-side, the per-key regex walk in
    Arrow-batched applyInPandas, ONE-ROW-PER-MATCH output re-entering
    the outer statement. Oracle = the independent RE2 replay (DuckDB
    regexp_extract_all over the identically ordered symbol string).
    Row-level MEASURES (sum/first/last) are proven against a standalone
    Python reference in tests/test_pattern.py."""
    return execute_trino(spark, TRINO_SQL_MR, sf_dir)


TRINO_SQL_MR_PREV = """
SELECT user_id, match_num, n_rows
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS match_num, count(*) AS n_rows
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (DOWN+ UP+)
  DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
         UP AS UP.value > PREV(UP.value)
)
"""


@query(
    "q_trino_sql_mr_prev",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv,
               ts, event_id
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE WHEN pv IS NOT NULL AND value < pv THEN 'D'
                               WHEN pv IS NOT NULL AND value > pv THEN 'U'
                               ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM ordered GROUP BY user_id
    ), matches AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'D+U+')) AS mstr,
               generate_subscripts(regexp_extract_all(s, 'D+U+'), 1)
                   AS match_num
        FROM sym
    )
    SELECT user_id, CAST(match_num AS BIGINT) AS match_num,
           CAST(length(mstr) AS BIGINT) AS n_rows
    FROM matches
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical Trino MATCH_RECOGNIZE shape — falling-then-rising
    runs with ``PREV()`` in DEFINE (the V/W-shape price query of the
    Trino docs) — through the string path (r7). ``PREV(col[, n])`` /
    ``NEXT(col[, n])`` navigate PHYSICAL partition rows in Trino, so
    the lowering builds lag/lead columns over the (PARTITION BY,
    ORDER BY) window JVM-side and substitutes them into the symbol
    predicates; self-qualified references (``DOWN.value`` inside
    DEFINE DOWN) resolve to the current row.

    Oracle: the independent RE2 replay — the same lag-classified
    symbol string in DuckDB, regexp_extract_all('D+U+') for the
    leftmost-first non-overlapping greedy matches. A row with
    value equal to its predecessor (or the partition's first row,
    lag NULL) classifies as filler and breaks runs in both engines.
    """
    return execute_trino(spark, TRINO_SQL_MR_PREV, sf_dir)


#: (q_trino_sql_breadth2 was consolidated into q_trino_sql_doc_breadth
#: in r15 — see that key above.)


TRINO_SQL_BREADTH3 = """
SELECT n_nationkey,
       bit_count(n_nationkey, 8) AS bits,
       array_join(transform(ngrams(split(n_name, '_'), 1),
                            g -> array_join(g, '+')), ' ') AS ng,
       json_array_contains('[0,2,4,6,8]', 4) AS jc,
       round(cosine_similarity(ARRAY[1.0, CAST(n_nationkey AS DOUBLE)],
                               ARRAY[1.0, 1.0]), 4) AS cs,
       hamming_distance(substring(n_name, 1, 6), 'NATION') AS hd,
       element_at((SELECT histogram(n_regionkey) FROM nation),
                  n_nationkey % 5) AS hcnt
FROM nation
"""


@query(
    "q_trino_sql_breadth3",
    oracle="""
    SELECT n_nationkey,
           CAST(bit_count(n_nationkey) AS BIGINT) AS bits,
           -- each 1-gram is a singleton list, so join-of-joins reduces
           -- to the space-joined token list; serialized to a flat
           -- VARCHAR because the driver's pandas canonicalizer cannot
           -- sort/hash nested list cells (r8 driver ERR).
           array_to_string(str_split(n_name, '_'), ' ') AS ng,
           true AS jc,
           round(list_cosine_similarity(
               [1.0, CAST(n_nationkey AS DOUBLE)], [1.0, 1.0]), 4) AS cs,
           CAST(hamming(substring(n_name, 1, 6), 'NATION') AS BIGINT)
               AS hd,
           CAST((SELECT histogram(n_regionkey) FROM nation)
                [n_nationkey % 5][1] AS BIGINT) AS hcnt
    FROM nation
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_breadth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect wave 15 (r8): 2-arg ``bit_count`` (bits-wide two's
    complement with Trino's representability check — the nation keys
    fit 8 bits, so DuckDB's 64-bit popcount is the oracle),
    ``ngrams`` (1-grams of the split name), ``json_array_contains``
    (literal-typed decode), array ``cosine_similarity`` (the fold
    Trino's array form computes), ``hamming_distance`` (position
    compare with a length guard), and ``histogram`` (map<value,
    count> — collect bound once as a lambda variable; DuckDB has the
    same aggregate natively). Every shim is JVM-side; nested outputs
    (the 1-gram array-of-arrays) are serialized to flat VARCHAR on
    BOTH sides — the driver's pandas canonicalizer cannot hash list
    cells (r8 driver ERR), so no key may emit array/map columns."""
    return execute_trino(spark, TRINO_SQL_BREADTH3, sf_dir)


def _xxh64_oracle() -> str:
    """Oracle for q_trino_sql_xxhash64: nation is FIXED (25 rows,
    NATION_0..24, identical at every SF), so the expected little-endian
    hex digests are embedded as literals. The literals are generated by
    the same trino_compat.xxh64 — deliberately: this key proves the
    SESSION PLUMBING (UDF registration, VARBINARY byte order, to_hex),
    while the ALGORITHM's proof is the independent bit-equality test
    against Spark's own seed-42 xxhash64 builtin
    (tests/test_trino_sql.py::test_xxh64_bit_exact_vs_spark_builtin)."""
    from okera_trino_spark.functions.trino_compat import xxh64
    rows = ", ".join(
        f"({i}, '{xxh64(f'NATION_{i}'.encode()).to_bytes(8, 'little').hex().upper()}')"
        for i in range(25))
    return (f"SELECT n_nationkey, hx FROM (VALUES {rows}) "
            f"AS t(n_nationkey, hx) ORDER BY n_nationkey")


@query(
    "q_trino_sql_xxhash64",
    oracle=_xxh64_oracle(),
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino ``xxhash64(varbinary) → varbinary`` (r9, formerly a named
    error): seed-0 XXH64 with the 64-bit result as little-endian Slice
    bytes (VarbinaryFunctions.java), via the session-registered
    Arrow-batched ``trino_xxhash64`` pandas UDF. See _xxh64_oracle for
    the two-sided verification split (plumbing here, algorithm vs
    Spark's builtin in pytest)."""
    return execute_trino(
        spark,
        "SELECT n_nationkey, to_hex(xxhash64(to_utf8(n_name))) AS hx "
        "FROM nation ORDER BY n_nationkey", sf_dir)


#: SQL/JSON wave 21 (r9): json_query over member chains and [*]
#: wildcards with every ARRAY WRAPPER form. The JSON document is
#: CONSTRUCTED per row from orders columns so every value is
#: row-discriminating and the oracle can replay it by string algebra.
TRINO_SQL_JSONPATH = """
SELECT o_orderkey,
       json_query(j, 'lax $.k[*].v' WITH ARRAY WRAPPER) AS vs,
       json_query(j, 'strict $.k[*].v' WITH UNCONDITIONAL ARRAY WRAPPER)
           AS vs_strict,
       json_query(j, 'lax $.s') AS s_quoted,
       json_query(j, 'lax $.k[0]' WITH CONDITIONAL ARRAY WRAPPER)
           AS first_obj,
       json_query(j, 'lax $.k[1].v') AS second_v,
       json_query(j, 'lax $.missing' WITH ARRAY WRAPPER) AS none_v,
       json_query(j, 'lax $.k[*] ? (@.v >= 1000).v' WITH ARRAY WRAPPER)
           AS vs_big
FROM (
    SELECT o_orderkey,
           '{"k":[{"v":' || CAST(o_orderkey AS VARCHAR) || '},{"v":' ||
           CAST(o_custkey AS VARCHAR) || '}],"s":"' || o_orderstatus ||
           '"}' AS j
    FROM orders
    WHERE o_orderkey < 2000
) t
ORDER BY o_orderkey
"""


@query(
    "q_trino_sql_jsonpath",
    oracle="""
    SELECT o_orderkey,
           '[' || o_orderkey || ',' || o_custkey || ']' AS vs,
           '[' || o_orderkey || ',' || o_custkey || ']' AS vs_strict,
           '"' || o_orderstatus || '"' AS s_quoted,
           '{"v":' || o_orderkey || '}' AS first_obj,
           CAST(o_custkey AS VARCHAR) AS second_v,
           CAST(NULL AS VARCHAR) AS none_v,
           CASE WHEN o_orderkey >= 1000 AND o_custkey >= 1000
                THEN '[' || o_orderkey || ',' || o_custkey || ']'
                WHEN o_orderkey >= 1000 THEN '[' || o_orderkey || ']'
                WHEN o_custkey >= 1000 THEN '[' || o_custkey || ']'
                ELSE NULL END AS vs_big
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_jsonpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL/JSON ``json_query`` (r9): lowered through Spark's VARIANT
    type — ``to_json(variant_get(try_parse_json(x), path))`` preserves
    exact JSON item text (KEEP QUOTES default, which get_json_object's
    scalar unquoting cannot), and a single-``[*]`` wildcard casts the
    chain head to ARRAY<VARIANT> and extracts the tail per element
    (lax skips non-matching elements). ``?(@.chain <op> literal)``
    FILTER steps (r9b) lower to a typed try_variant_get predicate
    inside the same HOF chain — NULL-valued predicates drop the
    element, which is lax semantics exactly. WITHOUT / WITH
    [UNCONDITIONAL] / WITH CONDITIONAL ARRAY WRAPPER all lower
    exactly; the DuckDB oracle replays each value by string algebra
    on the source columns. All JVM codegen — no Python, no shuffle
    beyond the scan. One documented divergence: VARIANT canonicalizes
    OBJECT MEMBER ORDER (alphabetical) where Trino preserves input
    order — JSON-equal, text-different for multi-member objects."""
    return execute_trino(spark, TRINO_SQL_JSONPATH, sf_dir)


#: BI-pagination tail clause (r9): FETCH FIRST n ROWS WITH TIES keeps
#: every row tying the cutoff's sort key. o_orderdate has heavy
#: duplication, so the tie expansion is exercised for real (the result
#: is strictly larger than 20 rows at every SF).
TRINO_SQL_TIES = """
SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od
FROM orders
WHERE o_orderkey < 4000
ORDER BY od
FETCH FIRST 20 ROWS WITH TIES
"""


@query(
    "q_trino_sql_ties",
    oracle="""
    SELECT o_orderkey, od FROM (
        SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od,
               rank() OVER (ORDER BY CAST(o_orderdate AS VARCHAR)) AS r
        FROM orders WHERE o_orderkey < 4000) t
    WHERE r <= 20
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FETCH FIRST n ROWS WITH TIES`` (r9): the statement-tail form
    lowers to ``rank() OVER (ORDER BY <sort keys>) <= n`` over the
    original query block, with the rank column dropped via
    ``* EXCEPT`` — Trino's tie semantics are exactly rank's gap
    semantics, so every row sharing the 20th date survives. Plan:
    Spark's WindowGroupLimit kicks in PARTIAL per input partition
    (each keeps only its local rank<=n rows) before the single final
    pass — the scalable top-K-with-ties shape, not a full global
    sort; filters stay pushed to the parquet scan. DuckDB's own
    window engine replays the rank filter as the oracle (DuckDB 1.0
    has no native WITH TIES)."""
    return execute_trino(spark, TRINO_SQL_TIES, sf_dir)


TRINO_SQL_LISTAGG = """
SELECT o_orderstatus,
       listagg(o_orderpriority, ',') WITHIN GROUP (
           ORDER BY o_orderdate, o_orderkey) AS prio_list,
       count(*) AS n
FROM orders
WHERE o_orderkey < 2000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "q_trino_sql_listagg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(o_orderpriority, ','
                      ORDER BY o_orderdate, o_orderkey) AS prio_list,
           count(*) AS n
    FROM orders
    WHERE o_orderkey < 2000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect wave 18 (r8): SQL:2016 LISTAGG … WITHIN GROUP through
    the string path — the sorted string aggregation BI tools emit.
    Lowered to a collect_list struct fold sorted on the ORDER BY keys
    (value as final tie-break). The ORDER BY ends in the unique
    o_orderkey on BOTH sides — dates repeat, and an unpinned tie would
    flap the cross-engine hash."""
    return execute_trino(spark, TRINO_SQL_LISTAGG, sf_dir)


#: Consolidated LISTAGG extension surface (r15: the former
#: q_trino_sql_listagg_trunc ON OVERFLOW TRUNCATE key and
#: q_trino_sql_listagg_distinct key merged — the two result shapes are
#: UNION-ALL-normalized to (grp, a, b, c, n); every underlying fold
#: and its oracle formulation preserved).
TRINO_SQL_LISTAGG_EXT = """
SELECT grp, a, b, c, n FROM (
    SELECT o_orderpriority AS grp,
           lower(to_hex(md5(listagg(rpad(CAST(o_orderkey AS VARCHAR) || o_orderpriority, 4000, o_orderpriority), ','
                       ON OVERFLOW TRUNCATE)
               WITHIN GROUP (ORDER BY o_orderkey)))) AS a,
           CAST(length(listagg(rpad(CAST(o_orderkey AS VARCHAR) || o_orderpriority, 4000, o_orderpriority), ','
                          ON OVERFLOW TRUNCATE)
                  WITHIN GROUP (ORDER BY o_orderkey)) AS VARCHAR) AS b,
           lower(to_hex(md5(listagg(o_orderstatus, '|' ON OVERFLOW TRUNCATE '#'
                       WITHOUT COUNT)
               WITHIN GROUP (ORDER BY o_orderkey)))) AS c,
           count(*) AS n
    FROM orders
    WHERE o_orderkey < 8000
    GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderstatus AS grp,
           listagg(DISTINCT o_orderpriority, ',')
               WITHIN GROUP (ORDER BY o_orderpriority) AS a,
           listagg(DISTINCT substring(o_orderpriority, 1, 1), '|')
               WITHIN GROUP (ORDER BY substring(o_orderpriority, 1, 1) DESC)
               AS b,
           CAST(NULL AS VARCHAR) AS c,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
) u
ORDER BY grp
"""

# DuckDB replay of the byte-budget prefix: the running output length
# after admitting entry i is sum(len + sep)[1..i] - sep (no separator
# before the first entry) — monotone, so "cum <= cap" IS the greedy
# prefix the fold computes, and string_agg ... FILTER rebuilds exactly
# the kept entries in order.
_LISTAGG_EXT_ORACLE = """
WITH v AS (
    SELECT o_orderpriority AS g, o_orderkey AS k, o_orderstatus AS st,
           rpad(CAST(o_orderkey AS VARCHAR) || o_orderpriority, 4000, o_orderpriority) AS val
    FROM orders WHERE o_orderkey < 8000
), c AS (
    SELECT g, k, st, val,
           sum(length(val) + 1) OVER (
               PARTITION BY g ORDER BY k) - 1 AS cum
    FROM v
), a AS (
    SELECT g,
           string_agg(val, ',' ORDER BY k) AS full_s,
           string_agg(val, ',' ORDER BY k)
               FILTER (WHERE cum <= 1048576) AS kept_s,
           count(*) FILTER (WHERE cum <= 1048576) AS kcnt,
           sum(length(val)) + count(*) - 1 AS total_len,
           string_agg(st, '|' ORDER BY k) AS small_s,
           count(*) AS n
    FROM c GROUP BY g
)
SELECT g AS grp,
       md5(CASE WHEN total_len <= 1048576 THEN full_s
                ELSE kept_s || ',' || '...(' ||
                     CAST(n - kcnt AS VARCHAR) || ')' END) AS a,
       CAST(length(CASE WHEN total_len <= 1048576 THEN full_s
                   ELSE kept_s || ',' || '...(' ||
                        CAST(n - kcnt AS VARCHAR) || ')' END) AS VARCHAR)
           AS b,
       md5(small_s) AS c,
       CAST(n AS BIGINT) AS n
FROM a
UNION ALL
SELECT o_orderstatus AS grp,
       string_agg(DISTINCT o_orderpriority, ','
                  ORDER BY o_orderpriority) AS a,
       string_agg(DISTINCT substring(o_orderpriority, 1, 1), '|'
                  ORDER BY substring(o_orderpriority, 1, 1) DESC) AS b,
       CAST(NULL AS VARCHAR) AS c,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY grp
"""


@query(
    "q_trino_sql_listagg_ext",
    oracle=_LISTAGG_EXT_ORACLE,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_listagg_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated LISTAGG extension surface (r15; formerly
    q_trino_sql_listagg_trunc, r9, and q_trino_sql_listagg_distinct,
    r10 — both folds and both oracle formulations preserved verbatim,
    UNION-ALL-normalized to (grp, a, b, c, n) so two registry slots
    become one; grp domains are disjoint by construction: priorities
    vs statuses).

    TRUNCATE arm: Trino caps listagg output at its 1 MiB page size and
    TRUNCATE keeps the greedy byte-budget prefix of entries, then
    appends the separator, the filler ('...' default) and WITH COUNT's
    omitted count. The 4000-byte rpad values make each ~400-order
    priority group ≈1.6 MiB at sf0.01, so the cap genuinely fires and
    the result hash proves the fold (not just the grammar); the 1-byte
    status column exercises the under-budget branch and WITHOUT COUNT
    + custom filler. Oracle: DuckDB rebuilds the prefix with a
    cumulative-length window + FILTERed string_agg — an independent
    formulation of the same spec (reference surface:
    /root/reference/README.md:74-90 Trino-400 SQL passthrough).
    Output is md5+length, so the driver never hashes megabyte cells.

    DISTINCT arm: ``listagg(DISTINCT …)`` — array_distinct over the
    collected (key, value) structs before the proven sorted fold;
    Trino restricts DISTINCT aggregations to sort keys matching the
    aggregated expression, so struct dedup IS value dedup. ASC and
    DESC keys plus a computed expression; oracle is DuckDB
    ``string_agg(DISTINCT … ORDER BY …)``.

    Scale: two independent groupBy shuffles (one per arm) unioned —
    exactly what the two separate keys cost; per-group work is an
    O(n) HOF fold, no Python."""
    return execute_trino(spark, TRINO_SQL_LISTAGG_EXT, sf_dir)


#: Consolidated orders-side dialect breadth (r15: the former
#: q_trino_sql_breadth4 wave-4, q_trino_sql_breadth5 wave-23,
#: q_trino_sql_breadth6 wave-24 and q_trino_sql_statfns keys merged
#: into ONE statement — identical row set (o_orderkey < 2000; the
#: former breadth6's defensive `> 0` was verified non-load-bearing at
#: row 0 and dropped so breadth4/5/statfns keep their full 2000-row
#: coverage — r15 review), every column and oracle formulation
#: preserved; renames only where
#: the originals collided: breadth5's mm → mm5, breadth6's mm → mm6,
#: statfns' sym → nsym).
TRINO_SQL_BREADTH_PACK = """
SELECT o_orderkey,
       format_number(o_totalprice) AS fn,
       format_number(o_orderkey * 1000000) AS fnm,
       CASE WHEN o_totalprice BETWEEN SYMMETRIC 200000 AND 100000
            THEN 'mid' ELSE 'out' END AS sym,
       split_part(o_orderpriority, substring('-x', 1, 1), 2) AS pword,
       split_part(o_orderpriority, substring('-x', 1, 1), 9) AS ppast,
       split(o_orderpriority, substring('-x', 1, 1))[1] AS pnum,
       cardinality(split(o_orderpriority, substring('-x', 1, 1)))
           AS nparts,
       to_base32(to_utf8(o_orderpriority)) AS pri_b32,
       CAST(from_base32(to_base32(to_utf8(o_orderstatus))) AS VARCHAR)
           AS st_rt,
       CAST(CAST(split_to_multimap(
           'k=' || o_orderstatus || ',k=' || o_orderpriority ||
           ',p=' || CAST(o_orderkey % 5 AS VARCHAR), ',', '=')
           AS JSON) AS VARCHAR) AS mm5,
       year_of_week(o_orderdate) AS yw,
       millisecond(CAST(o_orderdate AS TIMESTAMP)
                   + parse_duration(CAST(o_orderkey % 1000 AS VARCHAR)
                                    || 'ms')) AS ms,
       to_hex(to_big_endian_32(CAST(o_orderkey AS INTEGER))) AS be32,
       from_big_endian_32(to_big_endian_32(
           CAST(-o_orderkey AS INTEGER))) AS be32_rt,
       to_base64url(to_utf8(o_orderpriority)) AS b64u,
       CAST(from_base64url(to_base64url(to_utf8(o_orderstatus)))
            AS VARCHAR) AS b64_rt,
       lower(to_hex(hmac_sha256(to_utf8(o_orderpriority),
                                to_utf8('key')))) AS hm,
       from_ieee754_64(to_ieee754_64(o_totalprice)) AS ie_rt,
       CAST(CAST(multimap_from_entries(
           ARRAY[CAST(ROW('s', o_orderstatus)
                      AS ROW(k VARCHAR, v VARCHAR)),
                 CAST(ROW('p', o_orderpriority)
                      AS ROW(k VARCHAR, v VARCHAR)),
                 CAST(ROW('s', o_orderpriority)
                      AS ROW(k VARCHAR, v VARCHAR))])
           AS JSON) AS VARCHAR) AS mm6,
       beta_cdf(2, 3, (o_orderkey % 100) / 100.0) AS bc,
       normal_cdf(5, 2, inverse_normal_cdf(5, 2,
           (o_orderkey % 99 + 1) / 100.0)) AS nrt,
       inverse_beta_cdf(3, 2, beta_cdf(3, 2,
           (o_orderkey % 100) / 100.0)) AS brt,
       normal_cdf(0, 1, (o_orderkey % 80) / 10.0)
           + normal_cdf(0, 1, -(o_orderkey % 80) / 10.0) AS nsym
FROM orders
WHERE o_orderkey < 2000
ORDER BY o_orderkey
"""

# DuckDB replay: the same unit-suffix algebra, derived independently.
# Rounding subtlety the replay must honor: Spark's bround (and Java's
# DecimalFormat, i.e. Trino) round the double's SHORTEST DECIMAL
# STRING half-even (BigDecimal.valueOf), not its binary value — so
# 1.015 (binary ≈1.014999…) rounds UP to 1.02 where DuckDB's
# roundbankers says 1.01. The replay therefore goes CAST(v AS
# VARCHAR) → exact DECIMAL → manual half-even at the magnitude
# precision (frac vs 0.5 on the exact decimal, ties to the even
# floor).
_BREADTH_PACK_B4_CTES = """
base AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS tp,
           CAST(o_orderkey AS DOUBLE) * 1000000 AS km
    FROM orders WHERE o_orderkey < 2000
), s AS (
    SELECT *,
           CASE WHEN abs(tp) >= 1e3 THEN tp / 1e3 ELSE tp END AS tpv,
           CASE WHEN abs(tp) >= 1e3 THEN 'K' ELSE '' END AS tpu,
           CASE WHEN abs(km) >= 1e9 THEN km / 1e9
                WHEN abs(km) >= 1e6 THEN km / 1e6
                ELSE km END AS kmv,
           CASE WHEN abs(km) >= 1e9 THEN 'B'
                WHEN abs(km) >= 1e6 THEN 'M'
                ELSE '' END AS kmu
    FROM base
), d AS (
    SELECT *,
           CAST(CAST(tpv AS VARCHAR) AS DECIMAL(38, 18)) AS tpd,
           CASE WHEN abs(tpv) < 10 THEN 100
                WHEN abs(tpv) < 100 THEN 10 ELSE 1 END AS tpm,
           CAST(CAST(kmv AS VARCHAR) AS DECIMAL(38, 18)) AS kmd,
           CASE WHEN abs(kmv) < 10 THEN 100
                WHEN abs(kmv) < 100 THEN 10 ELSE 1 END AS kmm
    FROM s
), r AS (
    SELECT *,
           floor(tpd * tpm) AS tpf, tpd * tpm - floor(tpd * tpm)
               AS tpfr,
           floor(kmd * kmm) AS kmf, kmd * kmm - floor(kmd * kmm)
               AS kmfr
    FROM d
), v AS (
    SELECT *,
           (CASE WHEN tpfr > 0.5 THEN tpf + 1
                 WHEN tpfr < 0.5 THEN tpf
                 WHEN CAST(tpf AS BIGINT) % 2 = 0 THEN tpf
                 ELSE tpf + 1 END) / tpm AS tpr,
           (CASE WHEN kmfr > 0.5 THEN kmf + 1
                 WHEN kmfr < 0.5 THEN kmf
                 WHEN CAST(kmf AS BIGINT) % 2 = 0 THEN kmf
                 ELSE kmf + 1 END) / kmm AS kmr
    FROM r
),
b4 AS (
    SELECT o_orderkey,
           regexp_replace(regexp_replace(CAST(CAST(tpr AS DECIMAL(38, 6))
               AS VARCHAR),
               '(\\.\\d*[1-9])0+$', '\\1'), '\\.0*$', '') || tpu AS fn,
           regexp_replace(regexp_replace(CAST(CAST(kmr AS DECIMAL(38, 6))
               AS VARCHAR),
               '(\\.\\d*[1-9])0+$', '\\1'), '\\.0*$', '') || kmu AS fnm,
           CASE WHEN o_totalprice BETWEEN 100000 AND 200000
                THEN 'mid' ELSE 'out' END AS sym,
           string_split(o_orderpriority, '-')[2] AS pword,
           CAST(NULL AS VARCHAR) AS ppast,
           string_split(o_orderpriority, '-')[1] AS pnum,
           CAST(len(string_split(o_orderpriority, '-')) AS INTEGER)
               AS nparts
    FROM v
)
"""


def _breadth_pack_oracle() -> str:
    """Oracle for q_trino_sql_breadth_pack: the four original oracle
    formulations joined on o_orderkey over the shared row set. b4 is
    the DecimalFormat/split replay CTE chain (independent algebra —
    see the note above _BREADTH_PACK_B4_CTES); b5/b6 recompute every
    column except the base32/HMAC plumbing cases, which are literal
    CASEs over the FIXED 5-value priority vocabulary generated by the
    same stdlib b32encode / RFC-2104 hmac the UDFs use — deliberately:
    the keys prove SESSION PLUMBING while the algorithms' proof is the
    published-vector tests (tests/test_trino_sql.py::
    test_base32_rfc4648_vectors, test_hmac_rfc_vectors); st is
    INDEPENDENT mathematics (I_x(2,3) closed form, quantile/CDF
    round-trips, CDF symmetry — test_stat_cdf_functions)."""
    import base64
    import hmac as _hmac

    pris = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    b32case = " ".join(
        f"WHEN '{p}' THEN '{base64.b32encode(p.encode()).decode()}'"
        for p in pris)
    hmcase = " ".join(
        f"WHEN '{p}' THEN "
        f"'{_hmac.new(b'key', p.encode(), 'sha256').hexdigest()}'"
        for p in pris)
    return f"""
    WITH {_BREADTH_PACK_B4_CTES},
    b5 AS (
        SELECT o_orderkey,
               CASE o_orderpriority {b32case} END AS pri_b32,
               o_orderstatus AS st_rt,
               '{{"k":["' || o_orderstatus || '","' || o_orderpriority ||
               '"],"p":["' || CAST(o_orderkey % 5 AS VARCHAR) || '"]}}'
                   AS mm5
        FROM orders WHERE o_orderkey < 2000
    ),
    b6 AS (
        SELECT o_orderkey,
               CAST(date_part('isoyear', o_orderdate) AS INT) AS yw,
               CAST(o_orderkey % 1000 AS INT) AS ms,
               printf('%08X', o_orderkey) AS be32,
               -o_orderkey AS be32_rt,
               replace(replace(to_base64(encode(o_orderpriority)),
                       '+', '-'), '/', '_') AS b64u,
               o_orderstatus AS b64_rt,
               CASE o_orderpriority {hmcase} END AS hm,
               o_totalprice AS ie_rt,
               '{{"s":["' || o_orderstatus || '","' || o_orderpriority ||
               '"],"p":["' || o_orderpriority || '"]}}' AS mm6
        FROM orders WHERE o_orderkey < 2000
    ),
    st AS (
        SELECT o_orderkey,
               6 * pow((o_orderkey % 100) / 100.0, 2)
                 - 8 * pow((o_orderkey % 100) / 100.0, 3)
                 + 3 * pow((o_orderkey % 100) / 100.0, 4) AS bc,
               (o_orderkey % 99 + 1) / 100.0 AS nrt,
               (o_orderkey % 100) / 100.0 AS brt,
               1.0 AS nsym
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT b4.o_orderkey, fn, fnm, sym, pword, ppast, pnum, nparts,
           pri_b32, st_rt, mm5, yw, ms, be32, be32_rt, b64u, b64_rt,
           hm, ie_rt, mm6, bc, nrt, brt, nsym
    FROM b4 JOIN b5 USING (o_orderkey) JOIN b6 USING (o_orderkey)
            JOIN st USING (o_orderkey)
    ORDER BY o_orderkey
    """


@query(
    "q_trino_sql_breadth_pack",
    oracle=_breadth_pack_oracle(),
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_breadth_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated orders-side dialect breadth (r15; formerly
    q_trino_sql_breadth4 wave-4 r9, q_trino_sql_breadth5 wave-23 r10,
    q_trino_sql_breadth6 wave-24 r10 and q_trino_sql_statfns r10 —
    four registry slots become one; every column and every oracle
    formulation preserved verbatim, renames only for collisions:
    mm→mm5/mm6, statfns sym→nsym).

    Wave-4 columns: format_number unit-suffix rendering (K/M/B bands,
    DecimalFormat HALF_EVEN on the shortest decimal string), BETWEEN
    SYMMETRIC with reversed bounds, computed delimiters through
    split_part (Trino NULL-past-end), runtime-quoted split +
    subscript. Wave-23: to/from_base32 (RFC 4648 §6, pandas UDFs
    bit-verified against the RFC vectors) and split_to_multimap (HOF
    codegen, JSON-serialized). Wave-24: year_of_week, millisecond over
    a composed parse_duration, to/from_big_endian_32, to/from_base64url
    (RFC 4648 §5 by alphabet translation — DuckDB replays it
    independently), hmac_sha256 (RFC 2104), to/from_ieee754_64 exact
    bit round-trip, multimap_from_entries. Statfns: normal_cdf /
    inverse_normal_cdf / beta_cdf / inverse_beta_cdf (erfc-exact
    normal, Lentz continued-fraction regularized beta, Acklam+Halley
    quantile) with INDEPENDENT-mathematics oracles.

    Scale: one scan, map-only row work (UDF columns Arrow-batched),
    filter pushed to the scan, no shuffle beyond the ORDER BY."""
    return execute_trino(spark, TRINO_SQL_BREADTH_PACK, sf_dir)


TRINO_SQL_UNICODE = """
SELECT doc_id,
       normalize(substring(text, 1, 8) || 'e' || chr(769)) AS nfc,
       length(normalize('a' || chr(776))) AS lone,
       normalize(chr(8320) || chr(64257), NFKC) AS nfkc,
       chr(doc_id % 400 + 161) AS bmp,
       chr(doc_id % 64 + 128512) AS emoji,
       codepoint(chr(doc_id % 400 + 161)) AS cp_rt
FROM documents
ORDER BY doc_id
LIMIT 500
"""


@query(
    "q_trino_sql_unicode",
    oracle="""
    SELECT doc_id,
           nfc_normalize(substring(text, 1, 8) || 'e' || chr(769)) AS nfc,
           CAST(1 AS INT) AS lone,
           '0fi' AS nfkc,
           chr(CAST(doc_id % 400 + 161 AS INT)) AS bmp,
           chr(CAST(doc_id % 64 + 128512 AS INT)) AS emoji,
           CAST(doc_id % 400 + 161 AS INT) AS cp_rt
    FROM documents
    ORDER BY doc_id
    LIMIT 500
    """,
    tags=("trino", "sql", "dialect", "unicode"),
)
def q_trino_sql_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect wave 17 (r8): Unicode surface through the string path.

    ``chr`` is a CODEPOINT in Trino — Spark's same-named ``char`` wraps
    at 256, so until this wave ``chr(8364)`` silently produced a
    control byte; literal codepoints now embed the exact character
    (stash-masked) and column-driven ones lower to UTF-8 byte
    arithmetic + decode (whole-stage codegen, exercised here across
    the BMP and the astral plane). ``normalize`` (UAX #15) runs on the
    session-registered Arrow-batched ``trino_normalize`` UDF — the one
    sanctioned Python hop, since Spark SQL has no normalizer builtin.
    ``codepoint`` round-trips the non-literal chr output.

    Oracle: DuckDB's chr/ascii are natively codepoint-based and
    nfc_normalize covers NFC; the NFKC column is an all-literal
    composition whose value ('0fi') is fixed by the Unicode data
    tables, so it replays as a constant.

    Reference: normalize/chr reach the engine unpushed
    (RecordServicePageSourceProvider.java:39); engine semantics are
    the contract."""
    return execute_trino(spark, TRINO_SQL_UNICODE, sf_dir)


TRINO_SQL_MR_RUNNING = """
SELECT user_id, event_id, mn, cls, round(run_sum, 4) AS run_sum, n_run
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS mn, classifier() AS cls,
           RUNNING sum(value) AS run_sum, count(*) AS n_run
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V C+ P)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_running",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), m AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'VC+P')) AS mstr,
               generate_subscripts(regexp_extract_all(s, 'VC+P'), 1) AS k
        FROM sym
    ), g AS (
        SELECT user_id,
               unnest(str_split_regex(s, 'VC+P')) AS gap,
               generate_subscripts(str_split_regex(s, 'VC+P'), 1) AS gi
        FROM sym
    ), gcum AS (
        SELECT user_id, gi,
               sum(length(gap)) OVER (PARTITION BY user_id
                                      ORDER BY gi) AS cg
        FROM g
    ), mcum AS (
        SELECT user_id, k,
               sum(length(mstr)) OVER (PARTITION BY user_id
                                       ORDER BY k) AS cm
        FROM m
    ), starts AS (
        SELECT m.user_id, m.k, m.mstr,
               gcum.cg + coalesce(mcum.cm, 0) + 1 AS start
        FROM m
        JOIN gcum ON gcum.user_id = m.user_id AND gcum.gi = m.k
        LEFT JOIN mcum ON mcum.user_id = m.user_id AND mcum.k = m.k - 1
    ), rows_ AS (
        SELECT s.user_id, s.k AS mn,
               s.start + u.i - 1 AS rn,
               substring(s.mstr, CAST(u.i AS INT), 1) AS cls
        FROM starts s,
             unnest(generate_series(1, length(s.mstr))) AS u(i)
    ), joined AS (
        SELECT r.user_id, o.event_id, r.mn, r.cls, r.rn, o.value
        FROM rows_ r
        JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn
    )
    SELECT user_id, event_id, CAST(mn AS BIGINT) AS mn, cls,
           round(sum(value) OVER (PARTITION BY user_id, mn
                                  ORDER BY rn), 4) AS run_sum,
           CAST(row_number() OVER (PARTITION BY user_id, mn
                                   ORDER BY rn) AS BIGINT) AS n_run
    FROM joined
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ROWS PER MATCH with RUNNING measures (r8) through the string
    path: every matched funnel row carries the running ``sum(value)``
    and ``count(*)`` over the match prefix — Trino's default RUNNING
    semantics in ALL ROWS mode — computed as a cumsum over the match
    slice inside the same pandas walk (zero extra shuffles).

    The oracle reconstructs per-row match membership from regex
    primitives (as q_events_pattern_rows) and then replays RUNNING
    aggregates as cumulative windows over (user_id, match_num) in row
    order — an independent-engine check of both the row emission AND
    the per-row aggregate values.
    """
    return execute_trino(spark, TRINO_SQL_MR_RUNNING, sf_dir)


TRINO_SQL_MR_UNMATCHED = """
SELECT user_id, event_id, mn, cls
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS mn, classifier() AS cls
  ALL ROWS PER MATCH WITH UNMATCHED ROWS
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V C+ P)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_unmatched",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), m AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'VC+P')) AS mstr,
               generate_subscripts(regexp_extract_all(s, 'VC+P'), 1) AS k
        FROM sym
    ), g AS (
        SELECT user_id,
               unnest(str_split_regex(s, 'VC+P')) AS gap,
               generate_subscripts(str_split_regex(s, 'VC+P'), 1) AS gi
        FROM sym
    ), gcum AS (
        SELECT user_id, gi,
               sum(length(gap)) OVER (PARTITION BY user_id
                                      ORDER BY gi) AS cg
        FROM g
    ), mcum AS (
        SELECT user_id, k,
               sum(length(mstr)) OVER (PARTITION BY user_id
                                       ORDER BY k) AS cm
        FROM m
    ), starts AS (
        SELECT m.user_id, m.k, m.mstr,
               gcum.cg + coalesce(mcum.cm, 0) + 1 AS start
        FROM m
        JOIN gcum ON gcum.user_id = m.user_id AND gcum.gi = m.k
        LEFT JOIN mcum ON mcum.user_id = m.user_id AND mcum.k = m.k - 1
    ), rows_ AS (
        SELECT s.user_id, s.k AS mn,
               s.start + u.i - 1 AS rn,
               substring(s.mstr, CAST(u.i AS INT), 1) AS cls
        FROM starts s,
             unnest(generate_series(1, length(s.mstr))) AS u(i)
    )
    SELECT o.user_id, o.event_id, CAST(r.mn AS BIGINT) AS mn, r.cls
    FROM ordered o
    LEFT JOIN rows_ r ON r.user_id = o.user_id AND r.rn = o.rn
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALL ROWS PER MATCH WITH UNMATCHED ROWS`` (r8) through the
    string path: EVERY input row comes back — matched rows with their
    match number and classifier, unmatched rows with NULLs — Trino's
    audit-oriented output mode (which rows did my pattern consume?).

    The oracle turns the per-row match reconstruction of
    q_events_pattern_rows into a LEFT join from the full ordered row
    set, so unmatched rows surface with NULL mn/cls exactly as the
    operator emits them. Row count equals |events| by construction —
    the check also proves no row is dropped or double-emitted.
    """
    return execute_trino(spark, TRINO_SQL_MR_UNMATCHED, sf_dir)


TRINO_SQL_MR_VARS = """
SELECT user_id, mn, n_c, round(c_sum, 4) AS c_sum, v_val, u_cnt
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS mn, count(C.*) AS n_c,
           sum(C.value) AS c_sum, first(V.value) AS v_val,
           count(U.*) AS u_cnt
  SUBSET U = (V, P)
  PATTERN (V C+ P)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_vars",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), m AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'VC+P')) AS mstr,
               generate_subscripts(regexp_extract_all(s, 'VC+P'), 1) AS k
        FROM sym
    ), g AS (
        SELECT user_id,
               unnest(str_split_regex(s, 'VC+P')) AS gap,
               generate_subscripts(str_split_regex(s, 'VC+P'), 1) AS gi
        FROM sym
    ), gcum AS (
        SELECT user_id, gi,
               sum(length(gap)) OVER (PARTITION BY user_id
                                      ORDER BY gi) AS cg
        FROM g
    ), mcum AS (
        SELECT user_id, k,
               sum(length(mstr)) OVER (PARTITION BY user_id
                                       ORDER BY k) AS cm
        FROM m
    ), starts AS (
        SELECT m.user_id, m.k, m.mstr,
               gcum.cg + coalesce(mcum.cm, 0) + 1 AS start
        FROM m
        JOIN gcum ON gcum.user_id = m.user_id AND gcum.gi = m.k
        LEFT JOIN mcum ON mcum.user_id = m.user_id AND mcum.k = m.k - 1
    ), rows_ AS (
        SELECT s.user_id, s.k AS mn,
               s.start + u.i - 1 AS rn,
               substring(s.mstr, CAST(u.i AS INT), 1) AS cls
        FROM starts s,
             unnest(generate_series(1, length(s.mstr))) AS u(i)
    ), joined AS (
        SELECT r.user_id, r.mn, r.cls, r.rn, o.value
        FROM rows_ r
        JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn
    )
    SELECT user_id, CAST(mn AS BIGINT) AS mn,
           CAST(count(*) FILTER (WHERE cls = 'C') AS BIGINT) AS n_c,
           round(sum(value) FILTER (WHERE cls = 'C'), 4) AS c_sum,
           min(CASE WHEN cls = 'V' THEN value END) AS v_val,
           CAST(count(*) FILTER (WHERE cls IN ('V', 'P')) AS BIGINT) AS u_cnt
    FROM joined
    GROUP BY user_id, mn
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-qualified MEASURES + SUBSET (r8) through the string
    path: per funnel match, ``count(C.*)`` / ``sum(C.value)`` aggregate
    only the rows the match classified as C, ``first(V.value)`` reads
    the V row, and ``count(U.*)`` counts the SUBSET U = (V, P) union —
    the per-variable aggregate surface real Trino funnel queries use
    (Trino-400 row-pattern measures; the reference delegates to that
    engine, /root/reference/pom.xml:41).

    The oracle reconstructs per-row match membership and classifier
    from regex primitives (as q_events_pattern_rows), then replays each
    qualified aggregate as a FILTER (cls = …) aggregate per
    (user, match) — the V row's value via the single-V min trick. Both
    sides round the float sum at 4 dp (addition-order tolerance)."""
    return execute_trino(spark, TRINO_SQL_MR_VARS, sf_dir)


TRINO_SQL_MR_DESC = """
SELECT user_id, mn, cls
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts DESC, event_id DESC
  MEASURES match_number() AS mn, classifier() AS cls
  PATTERN (P C+ V)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_desc",
    oracle="""
    WITH sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts DESC, event_id DESC) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(generate_subscripts(regexp_extract_all(s, 'PC+V'), 1)
                AS BIGINT) AS mn,
           'V' AS cls
    FROM sym
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY … DESC`` in MATCH_RECOGNIZE (r8): the funnel walked
    backwards — PATTERN (P C+ V) over descending (ts, event_id) finds
    exactly the ascending V C+ P runs, but numbered and classified in
    reverse (classifier() = the LAST row of the match = the V row).

    The oracle classifies the SAME descending symbol string in DuckDB
    (string_agg ORDER BY … DESC) and enumerates the non-overlapping
    greedy 'PC+V' matches — match numbering and the final-row
    classifier drop out of the subscript enumeration directly."""
    return execute_trino(spark, TRINO_SQL_MR_DESC, sf_dir)


#: r9: QUANTIFIED output exclusion — {- C -}+ drops EVERY repetition's
#: span (the last-span-only limitation of stdlib re was the one
#: remaining MATCH_RECOGNIZE gap; the regex module reports all group
#: repetition spans). RUNNING sum proves excluded rows still
#: participate in measures.
TRINO_SQL_MR_EXCL = """
SELECT user_id, event_id, mn, cls, round(run_sum, 4) AS run_sum
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS mn, classifier() AS cls,
           RUNNING sum(value) AS run_sum
  ALL ROWS PER MATCH
  PATTERN (V {- C -}+ P)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_excl",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), m AS (
        SELECT user_id,
               unnest(regexp_extract_all(s, 'VC+P')) AS mstr,
               generate_subscripts(regexp_extract_all(s, 'VC+P'), 1) AS k
        FROM sym
    ), g AS (
        SELECT user_id,
               unnest(str_split_regex(s, 'VC+P')) AS gap,
               generate_subscripts(str_split_regex(s, 'VC+P'), 1) AS gi
        FROM sym
    ), gcum AS (
        SELECT user_id, gi,
               sum(length(gap)) OVER (PARTITION BY user_id
                                      ORDER BY gi) AS cg
        FROM g
    ), mcum AS (
        SELECT user_id, k,
               sum(length(mstr)) OVER (PARTITION BY user_id
                                       ORDER BY k) AS cm
        FROM m
    ), starts AS (
        SELECT m.user_id, m.k, m.mstr,
               gcum.cg + coalesce(mcum.cm, 0) + 1 AS start
        FROM m
        JOIN gcum ON gcum.user_id = m.user_id AND gcum.gi = m.k
        LEFT JOIN mcum ON mcum.user_id = m.user_id AND mcum.k = m.k - 1
    ), rows_ AS (
        SELECT s.user_id, s.k AS match_num,
               s.start + u.i - 1 AS rn,
               substring(s.mstr, CAST(u.i AS INT), 1) AS classifier
        FROM starts s,
             unnest(generate_series(1, length(s.mstr))) AS u(i)
    ), runsum AS (
        SELECT r.user_id, o.event_id, r.match_num, r.classifier,
               sum(o.value) OVER (PARTITION BY r.user_id, r.match_num
                                  ORDER BY r.rn) AS run_sum
        FROM rows_ r
        JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn
    )
    SELECT user_id, event_id, CAST(match_num AS BIGINT) AS mn,
           classifier AS cls, round(run_sum, 4) AS run_sum
    FROM runsum
    WHERE classifier <> 'C'
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_excl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified ``{- C -}+`` output exclusion (r9 — the last
    MATCH_RECOGNIZE gap): every repetition of the excluded C is
    matched, numbered and aggregated (the P row's RUNNING sum includes
    the clicks) but dropped from ALL-ROWS output. The oracle extends
    the position-reconstruction replay (matches + gaps + cumulative
    offsets → per-row positions) with the exclusion filter: emitted
    rows are exactly the match rows whose classifier is not C, while
    the running sum windows over ALL match rows before filtering."""
    return execute_trino(spark, TRINO_SQL_MR_EXCL, sf_dir)


TRINO_SQL_MR_SKIPLAST = """
SELECT user_id, match_num, n_rows
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS match_num, count(*) AS n_rows
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST U
  PATTERN (D+ U+ D)
  DEFINE D AS value < PREV(value),
         U AS value > PREV(value)
)
"""


@query(
    "q_trino_sql_mr_skiplast",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, value,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv,
               ts, event_id
        FROM events
    ), sym AS (
        SELECT user_id,
               string_agg(CASE WHEN pv IS NOT NULL AND value < pv THEN 'D'
                               WHEN pv IS NOT NULL AND value > pv THEN 'U'
                               ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM ordered GROUP BY user_id
    ), hits AS (
        SELECT user_id, pos,
               regexp_extract(substring(s, CAST(pos AS INT)),
                              '^D+U+D') AS m
        FROM sym, unnest(generate_series(1, length(s))) AS u(pos)
        WHERE regexp_extract(substring(s, CAST(pos AS INT)),
                             '^D+U+D') <> ''
    ), first_hit AS (
        SELECT user_id, pos, m FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY pos) AS rn
            FROM hits) WHERE rn = 1
    ), walk AS (
        SELECT user_id, pos, m, 1 AS k FROM first_hit
        UNION ALL
        SELECT h.user_id, h.pos, h.m, w.k + 1
        FROM walk w JOIN hits h ON h.user_id = w.user_id
            AND h.pos >= w.pos + length(w.m) - 2
            AND h.pos = (SELECT min(h2.pos) FROM hits h2
                         WHERE h2.user_id = w.user_id
                           AND h2.pos >= w.pos + length(w.m) - 2)
    )
    SELECT user_id, CAST(k AS BIGINT) AS match_num,
           CAST(length(m) AS BIGINT) AS n_rows
    FROM walk
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_skiplast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``AFTER MATCH SKIP TO LAST U`` (r8) through the string path:
    falling-rising-falling runs where each match's trailing descent is
    allowed to seed the next match — the scan resumes AT the match's
    last rising row (Trino's SKIP TO <variable> family; the row is
    re-entered, impossible under SKIP PAST LAST ROW).

    The oracle replays the inherently sequential skip chain in DuckDB
    with a RECURSIVE CTE: anchored RE2 matches are precomputed at
    every start offset, then the walk follows each match to the
    earliest anchored match at-or-after its last-U position — an
    independent engine executing the same automaton transition rule,
    match by match. For PATTERN (D+ U+ D) the last U sits at
    length(m) - 2, so the restart offset is pure arithmetic.
    """
    return execute_trino(spark, TRINO_SQL_MR_SKIPLAST, sf_dir)


TRINO_SQL_MR_SKIPSUBSET = """
SELECT user_id, match_num, n_rows
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES match_number() AS match_num, count(*) AS n_rows
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST W
  PATTERN (V C+ P)
  SUBSET W = (V, C)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         P AS event_type = 'purchase'
)
"""


@query(
    "q_trino_sql_mr_skipsubset",
    oracle="""
    WITH RECURSIVE sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'V'
                          WHEN 'click' THEN 'C'
                          WHEN 'purchase' THEN 'P' ELSE '.' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ), hits AS (
        SELECT user_id, pos,
               regexp_extract(substring(s, CAST(pos AS INT)),
                              '^VC+P') AS m
        FROM sym, unnest(generate_series(1, length(s))) AS u(pos)
        WHERE regexp_extract(substring(s, CAST(pos AS INT)),
                             '^VC+P') <> ''
    ), first_hit AS (
        SELECT user_id, pos, m FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY pos) AS rn
            FROM hits) WHERE rn = 1
    ), walk AS (
        SELECT user_id, pos, m, 1 AS k FROM first_hit
        UNION ALL
        SELECT h.user_id, h.pos, h.m, w.k + 1
        FROM walk w JOIN hits h ON h.user_id = w.user_id
            AND h.pos >= w.pos + length(w.m) - 2
            AND h.pos = (SELECT min(h2.pos) FROM hits h2
                         WHERE h2.user_id = w.user_id
                           AND h2.pos >= w.pos + length(w.m) - 2)
    )
    SELECT user_id, CAST(k AS BIGINT) AS match_num,
           CAST(length(m) AS BIGINT) AS n_rows
    FROM walk
    """,
    tags=("trino", "sql", "dialect", "pattern"),
)
def q_trino_sql_mr_skipsubset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``AFTER MATCH SKIP TO LAST <SUBSET variable>`` (late r8 — the
    last SKIP form): the target row is the last row mapped to ANY
    member of the union variable. For PATTERN (V C+ P) with
    W = (V, C), the last W row is the final click at match offset
    length(m) − 2 — the scan resumes AT it, so a purchase-preceding
    click can seed the next funnel (impossible under PAST LAST ROW).

    The oracle is the proven recursive-CTE skip replay
    (q_trino_sql_mr_skiplast's technique): anchored matches at every
    offset, the walk following each match to the earliest anchored
    match at-or-after its last-W position — pure arithmetic for this
    pattern shape, executed by an independent engine."""
    return execute_trino(spark, TRINO_SQL_MR_SKIPSUBSET, sf_dir)


@query(
    "q_trino_sql_prepared",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 50000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("trino", "sql", "prepared"),
)
def q_trino_sql_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Trino client prepared-statement flow end-to-end on the
    governed path: PREPARE q FROM <dialect text with ? markers>, then
    EXECUTE q USING <values> — the values bind through Spark's
    parameterized sql (never entering the SQL text), and the oracle is
    the same query with the values inlined."""
    from okera_trino_spark.sources.catalog import GovernedCatalog

    cat = GovernedCatalog(spark, sf_dir)
    cat.execute(
        "PREPARE agg_q FROM SELECT o_orderpriority, count(*) AS n, "
        "round(sum(o_totalprice), 2) AS total FROM orders "
        "WHERE o_orderstatus = ? AND o_totalprice > ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        dialect="trino")
    return cat.execute("EXECUTE agg_q USING 'O', 50000.0", dialect="trino")


def _hash_stem_oracle() -> str:
    """Oracle for q_trino_sql_hash_stem (r15 consolidation of the
    former q_trino_sql_murmur3 and q_trino_sql_word_stem singletons —
    both oracle formulations preserved, UNION-ALL-normalized).

    murmur3 arm: nation is FIXED (25 rows, NATION_0..24, identical at
    every SF), so the expected 16-byte digests are embedded as hex
    literals generated by the same trino_compat.murmur3_x64_128 —
    deliberately: plumbing proof here, the ALGORITHM's proof is
    smhasher's published verification value
    (test_murmur3_smhasher_verification — the xxhash64 two-sided
    pattern). stem arm: part's p_type vocabulary is FIXED (6 leading
    words at every SF), so the Porter2 stems are a literal CASE
    generated by the same stemmer.porter2_stem; the algorithm's proof
    is the snowballstem.org spec-vector test
    (tests/test_trino_sql.py::test_porter2_vector)."""
    from okera_trino_spark.functions.stemmer import porter2_stem
    from okera_trino_spark.functions.trino_compat import murmur3_x64_128

    rows = ", ".join(
        f"({i}, '{murmur3_x64_128(f'NATION_{i}'.encode()).hex()}')"
        for i in range(25))
    words = ("economy", "large", "medium", "promo", "small", "standard")
    case = " ".join(
        f"WHEN '{w}' THEN '{porter2_stem(w)}'" for w in words)
    return f"""
    SELECT 'murmur3' AS src, CAST(n_nationkey AS VARCHAR) AS k,
           hx AS v, CAST(1 AS BIGINT) AS n
    FROM (VALUES {rows}) AS t(n_nationkey, hx)
    UNION ALL
    SELECT 'stem' AS src, w AS k, stem AS v, CAST(n AS BIGINT) AS n
    FROM (
        SELECT lower(split_part(p_type, ' ', 1)) AS w,
               CASE lower(split_part(p_type, ' ', 1)) {case} END AS stem,
               count(*) AS n
        FROM part
        GROUP BY 1
    ) s
    ORDER BY src, k
    """


TRINO_SQL_HASH_STEM = """
SELECT 'murmur3' AS src, CAST(n_nationkey AS VARCHAR) AS k,
       lower(to_hex(murmur3(to_utf8(n_name)))) AS v,
       CAST(1 AS BIGINT) AS n
FROM nation
UNION ALL
SELECT 'stem' AS src, w AS k, s AS v, n
FROM (
    SELECT lower(split_part(p_type, ' ', 1)) AS w,
           word_stem(lower(split_part(p_type, ' ', 1)), 'en') AS s,
           count(*) AS n
    FROM part GROUP BY 1, 2
) t
ORDER BY src, k
"""


@query(
    "q_trino_sql_hash_stem",
    oracle=_hash_stem_oracle(),
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_hash_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated session-UDF singletons (r15; formerly
    q_trino_sql_murmur3 and q_trino_sql_word_stem, both r10 — one
    registry slot, both checks intact, normalized to (src, k, v, n)).

    murmur3 arm: Trino ``murmur3(varbinary) → varbinary`` — 128-bit
    MurmurHash3 (x64_128, seed 0, h1||h2 little-endian — airlift
    Murmur3Hash128) via the session-registered Arrow-batched
    ``trino_murmur3`` pandas UDF. stem arm: ``word_stem(varchar,
    'en')`` — the Snowball english (Porter2) stemmer from the public
    snowballstem.org spec (functions/stemmer.py), run distributed over
    part with grouped counts proving every row went through it. See
    _hash_stem_oracle for the plumbing/algorithm verification split.
    Scale: both arms map-only Arrow batches; one small groupBy on the
    stem arm; UNION ALL of two tiny results."""
    return execute_trino(spark, TRINO_SQL_HASH_STEM, sf_dir)


#: (q_trino_sql_listagg_distinct was consolidated into
#: q_trino_sql_listagg_ext in r15 — see that key above.)


#: SQL/JSON wave 22 (r10): compound ?(...) filter predicates — && / ||
#: of typed comparisons under K3 logic. The JSON document is built per
#: row from orders columns; the third array element OMITS the "w"
#: member so the UNKNOWN-drop rule is exercised against every
#: connective shape (unknown && true, false || unknown …).
TRINO_SQL_JSONPATH_BOOL = """
SELECT o_orderkey,
       json_query(j, 'lax $.k[*] ?(@.v >= 500 && @.w == "O") .v'
                  WITH ARRAY WRAPPER) AS and_v,
       json_query(j, 'lax $.k[*] ?(@.w == "1" || @.w == "F") .v'
                  WITH ARRAY WRAPPER) AS or_v,
       json_query(j, 'lax $.k[*] ?(@.v >= 500 && @.v < 3000 || @.w == "P") .v'
                  WITH ARRAY WRAPPER) AS prec_v,
       json_query(j, 'lax $.k[*] ?(@.w != "Z" && @.v >= 0) .v'
                  WITH ARRAY WRAPPER) AS unk_v,
       json_query(j, 'lax $.k[*] ?(!(@.w == "O")) .v'
                  WITH ARRAY WRAPPER) AS not_v,
       json_query(j, 'lax $.k[*] ?(!exists(@.w)) .v'
                  WITH ARRAY WRAPPER) AS nex_v,
       json_query(j, 'lax $.k[*] ?((@.w == "F" || @.w == "P") && !(@.v >= 1500)) .v'
                  WITH ARRAY WRAPPER) AS grp_v,
       json_value(j, 'lax $.k[*] ?(@.w == "F") .v') AS jv_f,
       json_value(j, 'lax $.k[2].v') AS jv_n,
       json_value(j, 'lax $.k[0]') AS jv_obj,
       json_exists(j, 'lax $.k[*] ?(@.v >= 1000 && @.w == "O")') AS je_f,
       json_query(j, 'lax $.k[*].v[*]' WITH ARRAY WRAPPER) AS mw_v
FROM (
    SELECT o_orderkey,
           '{"k":[{"v":' || CAST(o_orderkey AS VARCHAR) ||
           ',"w":"' || o_orderstatus || '"},{"v":' ||
           CAST(o_custkey AS VARCHAR) || ',"w":"' ||
           substring(o_orderpriority, 1, 1) || '"},{"v":' ||
           CAST(o_orderkey % 7 AS VARCHAR) || '}]}' AS j
    FROM orders
    WHERE o_orderkey < 2000
) t
ORDER BY o_orderkey
"""


@query(
    "q_trino_sql_jsonpath_bool",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               o_orderkey AS v1, o_orderstatus AS w1,
               o_custkey AS v2, substring(o_orderpriority, 1, 1) AS w2
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey,
           CASE WHEN (v1 >= 500 AND w1 = 'O') OR (v2 >= 500 AND w2 = 'O')
                THEN '[' || concat_ws(',',
                     CASE WHEN v1 >= 500 AND w1 = 'O' THEN CAST(v1 AS VARCHAR) END,
                     CASE WHEN v2 >= 500 AND w2 = 'O' THEN CAST(v2 AS VARCHAR) END) || ']'
                END AS and_v,
           CASE WHEN (w1 = '1' OR w1 = 'F') OR (w2 = '1' OR w2 = 'F')
                THEN '[' || concat_ws(',',
                     CASE WHEN w1 = '1' OR w1 = 'F' THEN CAST(v1 AS VARCHAR) END,
                     CASE WHEN w2 = '1' OR w2 = 'F' THEN CAST(v2 AS VARCHAR) END) || ']'
                END AS or_v,
           CASE WHEN ((v1 >= 500 AND v1 < 3000) OR w1 = 'P')
                  OR ((v2 >= 500 AND v2 < 3000) OR w2 = 'P')
                THEN '[' || concat_ws(',',
                     CASE WHEN (v1 >= 500 AND v1 < 3000) OR w1 = 'P'
                          THEN CAST(v1 AS VARCHAR) END,
                     CASE WHEN (v2 >= 500 AND v2 < 3000) OR w2 = 'P'
                          THEN CAST(v2 AS VARCHAR) END) || ']'
                END AS prec_v,
           '[' || CAST(v1 AS VARCHAR) || ',' || CAST(v2 AS VARCHAR) || ']'
               AS unk_v,
           '[' || concat_ws(',',
                CASE WHEN w1 <> 'O' THEN CAST(v1 AS VARCHAR) END,
                CAST(v2 AS VARCHAR),
                CAST(o_orderkey % 7 AS VARCHAR)) || ']' AS not_v,
           '[' || CAST(o_orderkey % 7 AS VARCHAR) || ']' AS nex_v,
           CASE WHEN w1 IN ('F', 'P') AND v1 < 1500
                THEN '[' || CAST(v1 AS VARCHAR) || ']' END AS grp_v,
           CASE WHEN w1 = 'F' THEN CAST(v1 AS VARCHAR) END AS jv_f,
           CAST(o_orderkey % 7 AS VARCHAR) AS jv_n,
           CAST(NULL AS VARCHAR) AS jv_obj,
           ((v1 >= 1000 AND w1 = 'O') OR (v2 >= 1000 AND w2 = 'O'))
               AS je_f,
           '[' || CAST(v1 AS VARCHAR) || ',' || CAST(v2 AS VARCHAR) ||
           ',' || CAST(o_orderkey % 7 AS VARCHAR) || ']' AS mw_v
    FROM t
    ORDER BY o_orderkey
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_jsonpath_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL/JSON filter predicate grammar (r10; single comparisons r9):
    ``&&``/``||`` of ``@.chain <op> literal`` comparisons inside
    ``?(...)`` with && binding tighter (and_v/or_v/prec_v/unk_v), plus
    the wave-25 full grammar — parenthesized sub-predicates, ``!(...)``
    negation, ``exists(@.chain)`` (not_v/nex_v/grp_v), json_value's
    exactly-one-item + scalar-ness rules (jv_f/jv_n/jv_obj) and
    json_exists (je_f). Each atom is
    the typed-VARIANT predicate with the standard's exact K3 values —
    missing member → FALSE (lax empty sequence), JSON null vs literal
    → FALSE (``<>`` TRUE), type-mismatch → UNKNOWN — composed under
    Spark's NULL-aware AND/OR/NOT, which IS SQL/JSON's Kleene logic,
    so filter()'s keep-only-TRUE implements UNKNOWN-drop for every
    connective shape. The third array element omits "w": positive
    filters drop it (FALSE), while ``!(@.w == "O")`` and
    ``!exists(@.w)`` genuinely KEEP it — the false-vs-unknown
    distinction only negation can observe. Oracle: DuckDB replays each
    element's membership by boolean algebra on the source columns.
    Pure VARIANT HOF codegen, no Python, no shuffle."""
    return execute_trino(spark, TRINO_SQL_JSONPATH_BOOL, sf_dir)


TRINO_SQL_JSONPATH_STRICT = """
SELECT o_orderkey,
       json_query(j, 'strict $.k[*] ?(!(@.w == "O")) .v'
                  WITH ARRAY WRAPPER) AS s_neg,
       json_query(j, 'lax $.k[*] ?(!(@.w == "O")) .v'
                  WITH ARRAY WRAPPER) AS l_neg,
       json_query(j, 'strict $.k[*] ?(!exists(@.w)) .v'
                  WITH ARRAY WRAPPER) AS s_nex,
       json_query(j, 'strict $.k[*] ?(@.v >= 500 && @.w == "O") .v'
                  WITH ARRAY WRAPPER) AS s_pos,
       json_query(j, 'strict $.k[last].v') AS s_last,
       json_value(j, 'strict $.k[0].v[last]') AS s_last_err,
       json_query(j, 'strict $.k[*] ?(@.a.size() == 2) .v'
                  WITH ARRAY WRAPPER) AS s_size,
       json_exists(j, 'strict $.k[last]') AS s_le
FROM (
    SELECT o_orderkey,
           '{"k":[{"v":' || CAST(o_orderkey AS VARCHAR) ||
           ',"w":"' || o_orderstatus || '"},{"v":' ||
           CAST(o_custkey AS VARCHAR) || ',"w":"' ||
           substring(o_orderpriority, 1, 1) || '"},{"v":' ||
           CAST(o_orderkey % 7 AS VARCHAR) || ',"a":[' ||
           CAST(o_orderkey % 7 AS VARCHAR) || ',2]}]}' AS j
    FROM orders
    WHERE o_orderkey < 2000
) t
ORDER BY o_orderkey
"""


@query(
    "q_trino_sql_jsonpath_strict",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               o_orderkey AS v1, o_orderstatus AS w1,
               o_custkey AS v2, substring(o_orderpriority, 1, 1) AS w2,
               o_orderkey % 7 AS v3
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey,
           CASE WHEN w1 <> 'O' OR w2 <> 'O'
                THEN '[' || concat_ws(',',
                     CASE WHEN w1 <> 'O' THEN CAST(v1 AS VARCHAR) END,
                     CASE WHEN w2 <> 'O' THEN CAST(v2 AS VARCHAR) END)
                     || ']' END AS s_neg,
           '[' || concat_ws(',',
                CASE WHEN w1 <> 'O' THEN CAST(v1 AS VARCHAR) END,
                CASE WHEN w2 <> 'O' THEN CAST(v2 AS VARCHAR) END,
                CAST(v3 AS VARCHAR)) || ']' AS l_neg,
           CAST(NULL AS VARCHAR) AS s_nex,
           CASE WHEN (v1 >= 500 AND w1 = 'O')
                  OR (v2 >= 500 AND w2 = 'O')
                THEN '[' || concat_ws(',',
                     CASE WHEN v1 >= 500 AND w1 = 'O'
                          THEN CAST(v1 AS VARCHAR) END,
                     CASE WHEN v2 >= 500 AND w2 = 'O'
                          THEN CAST(v2 AS VARCHAR) END) || ']'
                END AS s_pos,
           CAST(v3 AS VARCHAR) AS s_last,
           CAST(NULL AS VARCHAR) AS s_last_err,
           '[' || CAST(v3 AS VARCHAR) || ']' AS s_size,
           TRUE AS s_le
    FROM t
    ORDER BY o_orderkey
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_jsonpath_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-mode SQL/JSON completion (r11, formerly named refusals
    for ``[last]`` and ``!``/``exists`` filters): a missing member is a
    structural error the ?(...) filter's implicit handler turns into
    UNKNOWN, so ``!(@.w == "O")`` and ``!exists(@.w)`` DROP the
    w-less third element that lax keeps (s_neg vs l_neg, s_nex);
    positive strict filters agree with lax (s_pos); strict ``.size()``
    on a non-array is an error → UNKNOWN, so only the element carrying
    a real 2-array passes (s_size); strict ``[last]`` returns an
    array's final element (s_last, s_le) but is a whole-result error
    over a non-array item → NULL ON ERROR (s_last_err). Oracle: DuckDB
    replays each element's strict-mode membership as boolean algebra
    on the source columns. Pure VARIANT HOF codegen, no Python, no
    shuffle."""
    return execute_trino(spark, TRINO_SQL_JSONPATH_STRICT, sf_dir)


TRINO_SQL_JSONPATH_METHODS = """
SELECT o_orderkey,
       json_query(j, 'lax $.p.ceiling()') AS cp,
       json_query(j, 'lax $.m.ceiling()') AS cm,
       json_query(j, 'lax $.m.floor()') AS fm,
       json_query(j, 'lax $.nk.abs()') AS ak,
       json_query(j, 'lax $.arr[*].floor()' WITH ARRAY WRAPPER) AS fl,
       json_query(j, 'lax $.arr[1 to last]') AS rg,
       json_exists(j, 'strict $.arr[0 to 1]') AS rge
FROM (
    SELECT o_orderkey,
           '{"p":' || CAST(o_totalprice AS VARCHAR) ||
           ',"m":-' || CAST(o_totalprice AS VARCHAR) ||
           ',"nk":-' || CAST(o_orderkey AS VARCHAR) ||
           ',"arr":[' || CAST(o_totalprice AS VARCHAR) || ',-' ||
           CAST(o_totalprice AS VARCHAR) || ']}' AS j
    FROM orders WHERE o_orderkey < 2000
) t
ORDER BY o_orderkey
"""


@query(
    "q_trino_sql_jsonpath_methods",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(ceiling(o_totalprice) AS DOUBLE) AS VARCHAR)
               AS cp,
           CAST(CAST(-floor(o_totalprice) AS DOUBLE) AS VARCHAR)
               AS cm,
           CAST(CAST(floor(-o_totalprice) AS DOUBLE) AS VARCHAR)
               AS fm,
           CAST(o_orderkey AS VARCHAR) AS ak,
           '[' || CAST(CAST(floor(o_totalprice) AS DOUBLE) AS VARCHAR)
               || ',' ||
               CAST(CAST(floor(-o_totalprice) AS DOUBLE) AS VARCHAR)
               || ']' AS fl,
           CASE WHEN o_totalprice = floor(o_totalprice)
                THEN '-' || CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR)
                ELSE '-' || CAST(o_totalprice AS VARCHAR)
                END AS rg,
           TRUE AS rge
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_jsonpath_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal SQL/JSON numeric item methods (r11, formerly named
    refusals): ``.ceiling()`` / ``.floor()`` / ``.abs()`` over number
    items — integer items stay integers, fractional items compute in
    DOUBLE with Java Math semantics including the -0.0 corners that
    forced the original refusal (pinned by the unit test; this key's
    prices stay away from the corner so DuckDB's plain ceil/floor
    arithmetic is an independent oracle — integral doubles render
    identically on both engines). Lax method application unwraps an
    array one level (fl), and the key also grades [n to m]/[n to last]
    range subscripts (r11 — rg/rge; the number texts round-trip
    exactly because both engines derive them from the same double's
    shortest representation). Pure VARIANT HOF codegen, map-only."""
    return execute_trino(spark, TRINO_SQL_JSONPATH_METHODS, sf_dir)


#: (q_trino_sql_breadth5, q_trino_sql_breadth6 and q_trino_sql_statfns
#: were consolidated into q_trino_sql_breadth_pack in r15 — see that
#: key above.)


#: (q_trino_sql_murmur3 was consolidated into q_trino_sql_hash_stem
#: in r15 — see that key above.)


TRINO_SQL_GROUPS_FRAME = """
SELECT p_partkey,
       count(*) OVER (PARTITION BY p_brand ORDER BY p_size
           GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS n_band,
       round(sum(p_retailprice) OVER (PARTITION BY p_brand
           ORDER BY p_size
           GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 4) AS sum_band
FROM part ORDER BY p_partkey
"""


@query(
    "q_trino_sql_groups_frame",
    oracle="""
    WITH g AS (SELECT *, dense_rank() OVER (PARTITION BY p_brand
                   ORDER BY p_size) AS grp FROM part)
    SELECT p_partkey,
           CAST(count(*) OVER (PARTITION BY p_brand ORDER BY grp
               RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT)
               AS n_band,
           round(sum(p_retailprice) OVER (PARTITION BY p_brand
               ORDER BY grp
               RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING), 4)
               AS sum_band
    FROM g ORDER BY p_partkey
    """,
    tags=("trino", "sql", "dialect", "window"),
)
def q_trino_sql_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS window frames submitted as Trino SQL TEXT (r11 driver
    key — the lowering itself landed in r7 and was until now graded
    only via pytest): ``GROUPS BETWEEN n PRECEDING AND m FOLLOWING``
    rewrites to a dense_rank group index in an inlined subquery plus
    the same frame in RANGE mode (_rewrite_groups_frames), the exact
    peer-group equivalence of the DataFrame operator behind
    q_win_frame_groups (operators/windows.py:155). The oracle builds
    the equivalence independently in DuckDB (which, like Spark, lacks
    GROUPS mode). Scale: both windows share one exchange+sort."""
    return execute_trino(spark, TRINO_SQL_GROUPS_FRAME, sf_dir)


TRINO_SQL_QDIGEST = """
SELECT l_returnflag,
       value_at_quantile(qdigest_agg(l_quantity), 0.5e0) AS med_qty,
       value_at_quantile(tdigest_agg(l_quantity), 0.87e0) AS p87_qty,
       quantile_at_value(qdigest_agg(l_quantity), 25) AS rank25,
       element_at(values_at_quantiles(qdigest_agg(l_quantity),
                                      ARRAY[0.25e0, 0.75e0]), 1) AS q1,
       element_at(values_at_quantiles(qdigest_agg(l_quantity),
                                      ARRAY[0.25e0, 0.75e0]), 2) AS q3
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "q_trino_sql_qdigest",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS med_qty,
           quantile_disc(l_quantity, 0.87) AS p87_qty,
           avg(CASE WHEN l_quantity <= 25 THEN 1.0 ELSE 0.0 END)
               AS rank25,
           quantile_disc(l_quantity, 0.25) AS q1,
           quantile_disc(l_quantity, 0.75) AS q3
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qdigest/tdigest read path (r11, formerly blanket refusals):
    value_at_quantile / values_at_quantiles over qdigest_agg/
    tdigest_agg lower onto approx_percentile; quantile_at_value is the
    exact INCLUSIVE CDF avg(x <= v) — a documented convention choice
    (the oracle replays the same convention; real Trino's rank
    convention at point-mass values is unverified offline, see the
    lowering comment). Hash-green against DuckDB's exact
    quantile_disc is sound ON THIS COLUMN: l_quantity has ~50 distinct
    values with thousands of rows per value and no quantile point
    within ~80 ranks of a value boundary, while the sketch's rank
    error is ≤ n/10000 (≈2) — the estimate cannot cross to an adjacent
    value, so approx == exact == the oracle (general-column divergence
    stays approx_percentile-class, bounds-tested in tests/
    test_bounds.py). Standalone digests (sketch bytes stored/returned)
    still refuse by name — no portable sketch serialization. Scale:
    partial-aggregable sketch, map-side combine, one shuffle on the
    group key."""
    return execute_trino(spark, TRINO_SQL_QDIGEST, sf_dir)


def _spooky_oracle() -> str:
    """Oracle for q_trino_sql_spooky: nation is FIXED (25 rows,
    NATION_0..24, identical at every SF), so the expected digests are
    embedded as hex literals generated by the same
    trino_compat.spooky_v2_32/64 — deliberately: this key proves the
    SESSION PLUMBING, while the ALGORITHM's proof is smhasher's
    published Spooky64 verification constant 0x972C4BDC
    (test_spooky_smhasher_verification — the murmur3/xxhash64
    two-sided pattern)."""
    from okera_trino_spark.functions.trino_compat import (
        spooky_v2_32, spooky_v2_64)
    rows = ", ".join(
        "({i}, '{h32}', '{h64}')".format(
            i=i,
            h32=spooky_v2_32(f"NATION_{i}".encode()).to_bytes(4, "big").hex(),
            h64=spooky_v2_64(f"NATION_{i}".encode()).to_bytes(8, "big").hex())
        for i in range(25))
    return (f"SELECT n_nationkey, h32, h64 FROM (VALUES {rows}) "
            f"AS t(n_nationkey, h32, h64) ORDER BY n_nationkey")


@query(
    "q_trino_sql_spooky",
    oracle=_spooky_oracle(),
    tags=("trino", "sql", "dialect"),
)
def q_trino_sql_spooky(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino ``spooky_hash_v2_32/64(varbinary) → varbinary`` (r12,
    formerly a deliberate refusal — see the wave-16 lowering comment
    for why the smhasher constant was the gate): Jenkins SpookyHash V2
    at seed 0, result rendered as big-endian bytes exactly like
    Trino's VarbinaryFunctions (reference surface:
    /root/reference/src/main/java/com/okera/recordservice/trino/
    RecordServiceConnector.java wires Trino's builtin scalar set
    through unchanged). Via the session-registered Arrow-batched
    ``trino_spooky32/64`` pandas UDFs. Scale: map-only row work, no
    shuffle."""
    return execute_trino(
        spark,
        "SELECT n_nationkey, "
        "lower(to_hex(spooky_hash_v2_32(to_utf8(n_name)))) AS h32, "
        "lower(to_hex(spooky_hash_v2_64(to_utf8(n_name)))) AS h64 "
        "FROM nation ORDER BY n_nationkey", sf_dir)
