"""SQL surface: make the engine usable from pure `spark.sql(...)`.

The reference exposes its capabilities over gRPC; the Spark-native
equivalent of "an API any client can call" is the SQL surface. Two
kinds of capability:

  - Genuinely-Python capabilities (stemming, tokenization, document
    fingerprints, 128-bit id formatting) register as Arrow-batched
    pandas UDFs, callable from SQL by name.
  - Distance scoring stays a JVM-side expression — registering it as a
    Python UDF would move the hot path out of codegen — so
    `distance_sql` emits the pure-SQL (higher-order-function) text of
    the same expression `functions/distance.py` builds, for splicing
    into SQL strings. Results are bit-identical to the Column API.

`register_tables` mounts the fixture/collection parquet as temp views
so an analyst can work entirely in SQL.

The `sql_*` literal builders serve the engine's own request paths: a
request literal written as SQL text reaches the JVM as one string, one
Py4J round trip, where building it Column by Column costs several
round trips per element.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def distance_sql(metric: str, a: str, b: str) -> str:
    """Pure-SQL text of the engine's distance expressions (same math as
    functions/distance.py, JVM-side, codegen-friendly)."""
    sq = f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0.0D, (s, v) -> s + v)"
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, v) -> s + v)"
    norm = "sqrt(aggregate(transform({0}, x -> x * x), 0.0D, (s, v) -> s + v))"
    if metric == "l2":
        return f"sqrt({sq})"
    if metric == "l2_squared":
        return sq
    if metric == "dot":
        return f"-({dot})"
    if metric == "cosine":
        return f"1.0D - ({dot}) / ({norm.format(a)} * {norm.format(b)})"
    raise ValueError(f"unknown metric {metric!r}")


def sql_string(s: str) -> str:
    """A string literal equal to `s`: with the parser's default escape
    processing, only the backslash and the quote need escaping (so
    `\\%`, `\\_` and `\\u0041` in `s` stay literal text)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _json_double(x: float) -> str:
    if math.isnan(x):
        return '"NaN"'
    if math.isinf(x):
        return '"Infinity"' if x > 0 else '"-Infinity"'
    return repr(x)  # the shortest decimal that parses back to x


def sql_array(values) -> str:
    """An array<double> literal of `values`, bit-exact (-0.0, subnormals,
    NaN and the infinities included). It is one JSON string that
    constant folding turns into one array literal: an array(...) call
    would give the analyzer one node per element to resolve (~100 ms at
    768 elements), this gives it one whatever the length."""
    body = ",".join(_json_double(float(x)) for x in values)
    return f"from_json('[{body}]', 'array<double>')"


def sql_in(col: str, values) -> str:
    """`col IN (...)` over integer `values`; an empty list matches
    nothing, as Column.isin([]) does in a filter."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(str(int(v)) for v in values)})"


def register_functions(spark: SparkSession) -> None:
    """Register the Python-backed functions for SQL callers:

      mu_stem(word, lang)         Snowball/Porter stem of one word
      mu_stem_tokens(text, lang)  tokenized + stemmed array
      mu_tokens(text)             whitespace/alnum token array
      mu_fingerprint(text)        md5 of whitespace-normalized text
      mu_id_hex(hi, lo)           128-bit id as 32-char hex
    """
    from muopdb_spark.functions.text import stem_word

    import re

    rx = re.compile(r"[^a-z0-9]+")

    @F.pandas_udf("string")
    def mu_stem(words: pd.Series, langs: pd.Series) -> pd.Series:
        return pd.Series([
            stem_word(w or "", lang or "english")
            for w, lang in zip(words, langs)
        ])

    @F.pandas_udf("array<string>")
    def mu_stem_tokens(texts: pd.Series, langs: pd.Series) -> pd.Series:
        out = []
        for t, lang in zip(texts, langs):
            toks = [w for w in rx.split((t or "").lower()) if w]
            out.append([stem_word(w, lang or "english") for w in toks])
        return pd.Series(out)

    @F.pandas_udf("array<string>")
    def mu_tokens(texts: pd.Series) -> pd.Series:
        return pd.Series([
            [w for w in rx.split((t or "").lower()) if w] for t in texts
        ])

    spark.udf.register("mu_stem", mu_stem)
    spark.udf.register("mu_stem_tokens", mu_stem_tokens)
    spark.udf.register("mu_tokens", mu_tokens)
    # expression-backed helpers registered as SQL temp functions via
    # select-expression views are not supported pre-DS v2; md5-normalize
    # and id-hex are cheap enough as pandas UDFs
    spark.udf.register(
        "mu_fingerprint",
        F.pandas_udf(
            lambda texts: pd.Series([
                __import__("hashlib").md5(
                    " ".join((t or "").lower().split()).encode()
                ).hexdigest()
                for t in texts
            ]),
            "string",
        ),
    )
    spark.udf.register(
        "mu_id_hex",
        F.pandas_udf(
            lambda hi, lo: pd.Series([
                format(((int(h) & 0xFFFFFFFFFFFFFFFF) << 64)
                       | (int(l) & 0xFFFFFFFFFFFFFFFF), "032x")
                for h, l in zip(hi, lo)
            ]),
            "string",
        ),
    )


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Mount the parquet tables as temp views for pure-SQL sessions.
    events.parquet `ts` varies by fixture generation: TIMESTAMP(NANOS)
    (which Spark 4 rejects — read nanos as long and convert; integer
    division, double math loses precision at 1e18 epoch-nanos) or
    TIMESTAMP(MICROS) read natively as TIMESTAMP_NTZ (cast to session-tz
    timestamp; session tz is UTC so the cast is wall-clock identity)."""
    for name in FIXTURE_TABLES:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if dict(df.dtypes)["ts"] == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
