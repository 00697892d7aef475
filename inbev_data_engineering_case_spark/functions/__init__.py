"""Reusable Column-expression helpers.

Everything here is a pure expression constructor over built-in
``pyspark.sql.functions`` — JVM-side, codegen-friendly, no UDFs. Several
helpers exist specifically to be *portable*: the same computation is
expressible in ANSI SQL on DuckDB, so operators built from them can ship an
exact value-level oracle (the driver's correctness gate compares value
hashes, so engine-specific hashes like Spark's murmur3 ``F.hash`` are out
for any column that lands in a result).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash universal-hash family g_k(x) = (a_k*x + b_k) mod MH_PRIME over base
# hashes reduced to [0, MH_RANGE). Bounds chosen so a_k*x < 2^61 never
# overflows an int64 — Spark 4 runs ANSI mode (overflow throws) and DuckDB
# must compute bit-identical values for the oracle.
MH_PRIME = 2_147_483_647  # 2^31 - 1
MH_RANGE = 1 << 30


def minhash_mixers(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for the affine minhash family. Fixed
    seed: the Spark plan and the generated oracle SQL must embed the same
    constants."""
    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, MH_PRIME), rnd.randrange(0, MH_PRIME))
        for _ in range(k)
    ]


def portable_hash64(c: Column | str, seed: int = 0) -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB.

    Spark:  ``conv(substring(md5(concat(seed, x)), 1, 15), 16, 10)::bigint``
    DuckDB: ``('0x' || substr(md5(seed || x), 1, 15))::bigint``

    15 hex chars = 60 bits, always non-negative and exact in an int64.
    md5 is computed JVM-side (codegen'd); this is the workhorse for
    MinHash/SimHash/fingerprints where results must match the oracle.
    For purely internal hashing (salting, bucketing) prefer ``F.xxhash64``.
    """
    c = F.col(c) if isinstance(c, str) else c
    salted = F.concat(F.lit(str(seed)), c.cast("string")) if seed else c.cast("string")
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str, seed: int = 0) -> str:
    """DuckDB SQL text equivalent of ``portable_hash64``."""
    inner = f"'{seed}' || ({expr})" if seed else f"({expr})"
    return f"(('0x' || substr(md5({inner}), 1, 15)))::BIGINT"


def money(c: Column | str) -> Column:
    """Cast a double money column to decimal(18,2) so sums are exact and
    order-independent — float summation order differs between Spark's
    partial/final aggregation tree and any single-node oracle, so money
    aggregates go through decimal and only the *final* result returns to
    double. At 100 TB this also removes non-determinism across reruns."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")


def dsum(c: Column | str, alias: str) -> Column:
    """Exact decimal sum surfaced as double (stable across engines).

    For *raw money columns* only — the cast rounds to 2 decimals, which is
    exact for 2-decimal source data but lossy for computed products; build
    those with ``money()`` per input and sum via ``xsum`` instead (casting a
    computed double to decimal rounds differently in Spark — shortest-repr
    HALF_UP — than in engines that round the exact binary value)."""
    return F.sum(money(c)).cast("double").alias(alias)


def xsum(c: Column, alias: str) -> Column:
    """Sum an already-exact (decimal) expression, surfaced as double."""
    return F.sum(c).cast("double").alias(alias)


def disc_price() -> Column:
    """``l_extendedprice * (1 - l_discount)`` in exact decimal arithmetic —
    inputs cast to decimal first so the product is exact on any engine."""
    return money("l_extendedprice") * (F.lit(1) - money("l_discount"))


def charge() -> Column:
    """``l_extendedprice * (1 - l_discount) * (1 + l_tax)``, exact decimal."""
    return disc_price() * (F.lit(1) + money("l_tax"))


def davg(c: Column | str, alias: str) -> Column:
    """Order-stable average: exact decimal sum → double, then one IEEE double
    division. Both steps are deterministic and bit-identical in any engine
    (unlike a native float avg whose partial-sum order varies, or a trailing
    round() whose tie rule is engine-specific)."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.sum(money(c)).cast("double") / F.count(c)).alias(alias)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<float|double> columns, JVM-side:
    ``aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (acc, v) -> acc+v)``."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(c: Column | str) -> Column:
    """Euclidean norm of an array column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns (JVM-side, no UDF)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sqdist(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance of two array columns — a sequential left fold
    of (x-y)² terms, matching DuckDB's ``list_sum(list_transform(...))``
    evaluation order term-for-term so oracles reproduce it bit-exactly."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Whitespace-run regex shared by every tokenizer/normalizer AND their
# DuckDB oracle twins. EXPLICIT class, never \s: Java's \s includes
# \x0B (vertical tab) while RE2's does not, so the same pattern text
# would tokenize differently across the two engines on any document
# containing one — a silent driver-gate hash mismatch.
WS_RE = r"[ \t\n\x0b\f\r]+"


# --- Spark-SQL text builders (r16 optimization round) -----------------
# The hot text operators build their plans as SQL strings parsed with ONE
# F.expr/selectExpr instead of per-node py4j Column construction — the
# measured driver-side tree-build cost of the lambda-bearing forms
# (0.25-1.1s per curation plan) drops to a ~10-20ms parse of identical
# text. Each builder is the exact SQL twin of the Column helper above it;
# parity is pinned by the operators' bit-equality tests and the full
# DuckDB oracle sweep.


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier for a Spark SQL fragment. The contract
    matches the other string fast paths in this package: the name is an
    UNQUALIFIED top-level column (a dotted name is treated as one literal
    identifier, not a struct-field path)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal. Backslashes and quotes are
    escaped; raw control characters (WS_RE carries real TAB/LF/VT/FF/CR)
    pass through the lexer unchanged inside quotes, so the parsed value is
    byte-identical to the Python string."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def require_default_string_escapes(spark, caller: str) -> None:
    """Raise ValueError when the session parses SQL string literals
    without backslash escapes (``spark.sql.parser.escapedStringLiterals``,
    the Hive-compatibility mode). ``sql_str`` escapes for the default
    parser; under that conf the same text parses to different regexes and
    stopwords, which would silently change tokenization against the
    Column forms. Call it where ``sql_str`` text reaches the parser."""
    conf = "spark.sql.parser.escapedStringLiterals"
    if spark.conf.get(conf, "false").lower() == "true":
        raise ValueError(
            f"{caller}: {conf}=true changes how the operator's SQL string "
            "literals parse (backslashes stay literal); unset it for "
            "this session"
        )


def tokens_spark_sql(expr: str) -> str:
    """Spark-SQL twin of ``tokens`` over an expression string."""
    return f"split(trim({expr}), {sql_str(WS_RE)})"


def word_ngrams_spark_sql(expr: str, n: int) -> str:
    """Spark-SQL twin of ``word_ngrams``: identical CASE/transform shape,
    so the parsed tree matches the Column form node for node."""
    toks = tokens_spark_sql(expr)
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def portable_hash64_spark_sql(expr: str, seed: int = 0) -> str:
    """Spark-SQL twin of ``portable_hash64`` (same conv/substring/md5
    chain, same seed concat)."""
    inner = (
        f"concat('{seed}', CAST(({expr}) AS STRING))"
        if seed
        else f"CAST(({expr}) AS STRING)"
    )
    return (
        f"CAST(conv(substring(md5({inner}), 1, 15), 16, 10) AS BIGINT)"
    )


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization → array<string>; empty strings removed.

    ``split(trim(c), WS_RE)`` matches DuckDB's
    ``regexp_split_to_array(trim(c), WS_RE)`` for non-empty input (the
    oracles embed the same class literally).
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(c), WS_RE)


def char_ngrams(c: Column | str, n: int) -> Column:
    """Character n-gram shingles of a string → array<string>, JVM-side:
    substring windows via ``transform`` over a 1..len-n+1 index sequence.
    Empty array for strings shorter than n."""
    c = F.col(c) if isinstance(c, str) else c
    # Guarded by when(): sequence(start, stop) auto-steps -1 when start>stop,
    # which would fabricate shingles for too-short strings.
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(c: Column | str, n: int) -> Column:
    """Word n-gram shingles → array<string> (space-joined windows over the
    whitespace tokens). Word shingles are the standard unit for near-dedup
    of natural-language corpora: on text with a shared vocabulary,
    character shingles collide between unrelated documents (degenerate LSH
    buckets → all-pairs blowup) while word n-grams stay discriminative."""
    toks = tokens(c)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def morton_bucket_expr(c: str, lo: str, hi: str, bits: int) -> Column:
    """Scale an INTEGER column named ``c`` into ``[0, 2^bits)`` given its
    global min/max columns ``lo``/``hi`` — pure int64 arithmetic
    (``div``), so the bucket is bit-identical on any engine. Degenerate
    ranges (hi == lo) map to 0. Non-integer dimensions must be
    pre-quantized exactly by the caller (e.g. 2-decimal money × 100) —
    float scaling would put rows on different sides of a bucket edge per
    engine. Takes column NAMES (not Columns) because integer ``div`` is
    only reachable through the SQL parser."""
    return F.expr(
        f"CASE WHEN ({hi}) - ({lo}) <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE ((({c}) - ({lo})) * {(1 << bits) - 1}) "
        f"div (({hi}) - ({lo})) END"
    )


def bit_interleave(buckets: list[Column], bits: int) -> Column:
    """Morton (Z-order) code: interleave the low ``bits`` bits of each
    bucket column — bit b of column i lands at position ``b * n + i``.
    Unrolled into ~bits·n shift/mask adds (each term owns a distinct
    output bit, so ``+`` == OR), all JVM-side integers."""
    n = len(buckets)
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(buckets):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, b * n + i)
    return out


def morton_bucket_sql(expr: str, lo: str, hi: str, bits: int) -> str:
    """DuckDB twin of ``morton_bucket``."""
    return (
        f"CASE WHEN ({hi}) - ({lo}) <= 0 THEN 0 ELSE "
        f"((({expr}) - ({lo})) * {(1 << bits) - 1}) // (({hi}) - ({lo})) "
        f"END"
    )


def bit_interleave_sql(bucket_exprs: list[str], bits: int) -> str:
    """DuckDB twin of ``bit_interleave``."""
    n = len(bucket_exprs)
    terms = [
        f"((((({e})::BIGINT >> {b}) & 1)) << {b * n + i})"
        for b in range(bits)
        for i, e in enumerate(bucket_exprs)
    ]
    return "(" + " + ".join(terms) + ")"
