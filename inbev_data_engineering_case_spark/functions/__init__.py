"""Reusable expression helpers — JVM-side, codegen-friendly, no UDFs.

Two kinds live here:

- Column helpers over built-in ``pyspark.sql.functions`` for exact money
  arithmetic and vector math (``money``/``dsum``/``davg``, ``dot``/
  ``cosine``/``sqdist``).
- The text and hash primitives (tokens, word/char n-grams,
  ``portable_hash64``, Z-order interleave). Each has one Spark form, a
  builder of Spark SQL expression text (see the builders section); the
  Column-returning names are ``F.expr`` of that text.

Several helpers exist specifically to be *portable*: the same computation
is expressible in ANSI SQL on DuckDB, so operators built from them can
ship an exact value-level oracle (the correctness gate compares value
hashes, so engine-specific hashes like Spark's murmur3 ``F.hash`` are out
for any column that lands in a result). The DuckDB twins (``*_sql``) are
written independently of the Spark builders.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, SparkSession
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


# --- Spark SQL text builders ----------------------------------------------
# The text and hash primitives have ONE Spark form: a builder returning
# Spark SQL expression text. Operators splice the text into a single
# ``selectExpr``/``F.expr`` parse (one parse is ~10-20ms where a py4j
# Column tree of the same lambda-bearing expression cost 0.25-1.1s per
# curation plan build); the public Column-returning names are
# ``F.expr(<builder>(expr))``. Every argument is Spark SQL expression
# text: a plain column name is valid text, ``sql_ident`` quotes any other
# name. Lambda variables (``i``, ``s``, ``t``, ...) shadow columns of the
# same name, so the text must not reference such a column. The DuckDB
# oracle twins (``*_sql``) are written separately and share no fragment
# with these builders.

_ESCAPED_LITERALS_CONF = "spark.sql.parser.escapedStringLiterals"


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier for a Spark SQL fragment. The name is an
    UNQUALIFIED top-level column (a dotted name is treated as one literal
    identifier, not a struct-field path)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal whose parsed value is ``s``.

    Backslashes and quotes are escaped with a backslash; every other
    character (control characters included) passes through the lexer
    unchanged inside quotes. A backslash escape is the one construct whose
    parse depends on the session: with
    ``spark.sql.parser.escapedStringLiterals`` set to true the parser
    keeps the backslashes, so the tokenizer regex
    (``WS_RE`` is a string of backslash escapes) and every hash over such a
    literal would silently change. A literal that needs an escape therefore
    raises ``ValueError`` when the active session sets that conf."""
    lit = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if "\\" in lit:
        spark = SparkSession.getActiveSession()
        if (
            spark is not None
            and spark.conf.get(_ESCAPED_LITERALS_CONF, "false").lower()
            == "true"
        ):
            raise ValueError(
                f"{_ESCAPED_LITERALS_CONF}=true changes how the SQL"
                f" literal {lit} parses; these expressions need it false"
            )
    return lit


def tokens_spark_sql(expr: str) -> str:
    """Whitespace tokenization → array<string>: ``split(trim(x), WS_RE)``.

    Matches DuckDB's ``regexp_split_to_array(trim(x), WS_RE)`` for
    non-empty input (the oracles embed the same class literally). An empty
    trimmed text yields one ``''`` token."""
    return f"split(trim({expr}), {sql_str(WS_RE)})"


def word_ngrams_spark_sql(expr: str, n: int) -> str:
    """Word n-gram shingles → array<string> (space-joined windows over the
    whitespace tokens); empty for texts of fewer than ``n`` tokens. Word
    shingles are the standard unit for near-dedup of natural-language
    corpora: on text with a shared vocabulary, character shingles collide
    between unrelated documents (degenerate LSH buckets → all-pairs
    blowup) while word n-grams stay discriminative."""
    toks = tokens_spark_sql(expr)
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def char_ngrams_spark_sql(expr: str, n: int) -> str:
    """Character n-gram shingles → array<string>: substring windows over a
    1..len-n+1 index sequence; empty for strings shorter than ``n``. The
    CASE guard matters: ``sequence(start, stop)`` steps -1 when
    start > stop, which would fabricate shingles for too-short strings."""
    return (
        f"CASE WHEN length({expr}) >= {n} THEN "
        f"transform(sequence(1, length({expr}) - {n - 1}), "
        f"i -> substr({expr}, i, {n})) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def portable_hash64_spark_sql(expr: str, seed: int = 0) -> str:
    """Deterministic 60-bit hash identical in Spark and DuckDB.

    Spark:  ``conv(substring(md5(concat(seed, x)), 1, 15), 16, 10)::bigint``
    DuckDB: ``('0x' || substr(md5(seed || x), 1, 15))::bigint``

    15 hex chars = 60 bits, always non-negative and exact in an int64.
    md5 is computed JVM-side (codegen'd); this is the workhorse for
    MinHash/SimHash/fingerprints where results must match the oracle.
    For purely internal hashing (salting, bucketing) prefer ``xxhash64``."""
    inner = (
        f"concat('{seed}', CAST(({expr}) AS STRING))"
        if seed
        else f"CAST(({expr}) AS STRING)"
    )
    return (
        f"CAST(conv(substring(md5({inner}), 1, 15), 16, 10) AS BIGINT)"
    )


def tokens(expr: str) -> Column:
    """``F.expr`` of ``tokens_spark_sql``."""
    return F.expr(tokens_spark_sql(expr))


def word_ngrams(expr: str, n: int) -> Column:
    """``F.expr`` of ``word_ngrams_spark_sql``."""
    return F.expr(word_ngrams_spark_sql(expr, n))


def char_ngrams(expr: str, n: int) -> Column:
    """``F.expr`` of ``char_ngrams_spark_sql``."""
    return F.expr(char_ngrams_spark_sql(expr, n))


def portable_hash64(expr: str, seed: int = 0) -> Column:
    """``F.expr`` of ``portable_hash64_spark_sql``."""
    return F.expr(portable_hash64_spark_sql(expr, seed))


def morton_bucket_spark_sql(c: str, lo: str, hi: str, bits: int) -> str:
    """Scale an INTEGER expression ``c`` into ``[0, 2^bits)`` given its
    global min/max expressions ``lo``/``hi`` — pure int64 arithmetic
    (``div``), so the bucket is bit-identical on any engine. Degenerate
    ranges (hi == lo) map to 0. Non-integer dimensions must be
    pre-quantized exactly by the caller (e.g. 2-decimal money × 100) —
    float scaling would put rows on different sides of a bucket edge per
    engine."""
    return (
        f"CASE WHEN ({hi}) - ({lo}) <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE ((({c}) - ({lo})) * {(1 << bits) - 1}) "
        f"div (({hi}) - ({lo})) END"
    )


def morton_bucket_expr(c: str, lo: str, hi: str, bits: int) -> Column:
    """``F.expr`` of ``morton_bucket_spark_sql``."""
    return F.expr(morton_bucket_spark_sql(c, lo, hi, bits))


def bit_interleave(bucket_exprs: list[str], bits: int) -> Column:
    """Morton (Z-order) code: interleave the low ``bits`` bits of each
    bucket expression — bit b of expression i lands at position
    ``b * n + i``. Unrolled into ~bits·n shift/mask adds (each term owns a
    distinct output bit, so ``+`` == OR), all JVM-side integers, built as
    one ``F.expr`` parse."""
    n = len(bucket_exprs)
    terms = [
        f"shiftleft((shiftright(CAST(({e}) AS BIGINT), {b}) & 1), {b * n + i})"
        for b in range(bits)
        for i, e in enumerate(bucket_exprs)
    ]
    return F.expr(" + ".join(["CAST(0 AS BIGINT)", *terms]))


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
