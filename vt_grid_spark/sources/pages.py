"""Deterministic Common-Crawl-style page corpus (BASELINE.json input_hint).

Schema: (url string, warc_ts timestamp, html binary, text string,
lang string) — generated by pure integer arithmetic + string concat from a
row index, so the *same* table is reproducible in Spark (Column ops,
JVM-side, no UDF) and in DuckDB SQL (for the oracle side of every
page-corpus query).  Coordinates are embedded in ``text`` as integer
microdegrees (``geo:<lat_u6>,<lon_u6>``) so no float formatting is involved
anywhere.

Layout rules (FIXTURES.md F1):
  * ~5%% of rows (i %% 20 == 3) carry no geo token;
  * ~1%% (i %% 100 == 7) carry a second geo token — first wins;
  * 20%% of rows (i %% 5 == 0) form a skew cluster inside one z8 tile
    (x=75, y=96: lon ∈ [-74.53125, -73.125), lat ∈ (40.446, 40.979))
    to exercise salted aggregation (SURVEY.md §7 g5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vt_grid_spark.functions.sqltext import sq

LANGS = ["en", "de", "fr", "es", "pt", "zh", "ja", "ru", "ar", "hi"]

# rows per scale-factor directory (keyed by basename of the sf dir)
N_FOR_SF = {"sf0.001": 5_000, "sf0.01": 50_000, "sf0.1": 500_000}


def n_for_sf_dir(sf_dir: str) -> int:
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return N_FOR_SF.get(base, 5_000)


def pages_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """The corpus as a DataFrame of n rows — pure Column expressions.

    ``partitions`` defaults to ~2M rows per split INDEPENDENT of core
    count: spark.range's default (splits = defaultParallelism) couples
    map-side combine quality to the core count — more cores → more,
    smaller partial-agg hash maps → more shuffle bytes — which reads as
    anti-scaling in N-vs-4N comparisons."""
    if partitions is None:
        partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                         n // 2_000_000)
    # generated SQL text (one selectExpr) instead of ~60 nested Column
    # constructors: each python-side constructor is a py4j round trip and
    # this generator is (re)built by nearly every registered query —
    # measured ~0.2 s of pure DRIVER time per call in the Column form.
    # The arithmetic is textually the same integer/concat pipeline as the
    # DuckDB twin below (2654435761 parses as BIGINT, `%` is the same
    # Remainder op, CASE mirrors when/otherwise); full-row A/B against
    # the Column form at n=50k: byte-identical across all five columns.
    lat_u = ("(CASE WHEN id % 5 = 0 THEN 40500000 + (id % 400) * 1000 "
             "ELSE (id * 2654435761) % 170000000 - 85000000 END)")
    lon_u = ("(CASE WHEN id % 5 = 0 THEN -74500000 + (id % 1000) * 1000 "
             "ELSE (id * 40503) % 360000000 - 180000000 END)")
    geo_tok = (f"(CASE WHEN id % 20 != 3 THEN concat(' geo:', "
               f"cast({lat_u} as string), ',', cast({lon_u} as string)) "
               f"ELSE '' END)")
    geo2_tok = "(CASE WHEN id % 100 = 7 THEN ' geo:1000000,2000000' ELSE '' END)"
    text = ("concat('page ', cast(id as string), "
            "' lorem ipsum dolor w', cast(id % 7 as string), "
            f"{geo_tok}, {geo2_tok}, ' tail', cast(id % 13 as string))")
    langs = ", ".join(sq(l) for l in LANGS)
    return spark.range(0, n, 1, partitions).selectExpr(
        "concat('https://site', cast(id % 1000 as string), "
        "'.example/page/', cast(id as string)) AS url",
        "to_timestamp('2024-01-01 00:00:00') "
        "+ make_interval(0, 0, 0, 0, 0, 0, cast(id * 137 as double)) "
        "AS warc_ts",
        f"encode(concat('<html><body>', {text}, '</body></html>'), "
        f"'UTF-8') AS html",
        f"{text} AS text",
        f"element_at(array({langs}), cast(id % 10 + 1 as int)) AS lang",
    )


def pages_cte_sql(n: int) -> str:
    """DuckDB CTE producing the identical corpus (minus html/warc_ts, which
    no oracle query consumes).  Use as ``WITH pages AS ({this}) SELECT ...``.
    """
    # DuckDB reads a backslash literally, so not sqltext.sq (Spark-only)
    langs = ", ".join(f"'{l}'" for l in LANGS)
    return f"""
SELECT
  'https://site' || CAST(i % 1000 AS VARCHAR) || '.example/page/' || CAST(i AS VARCHAR) AS url,
  'page ' || CAST(i AS VARCHAR) || ' lorem ipsum dolor w' || CAST(i % 7 AS VARCHAR)
    || (CASE WHEN i % 20 != 3
        THEN ' geo:' || CAST(lat_u AS VARCHAR) || ',' || CAST(lon_u AS VARCHAR)
        ELSE '' END)
    || (CASE WHEN i % 100 = 7 THEN ' geo:1000000,2000000' ELSE '' END)
    || ' tail' || CAST(i % 13 AS VARCHAR) AS text,
  ([{langs}])[CAST(i % 10 AS INT) + 1] AS lang
FROM (
  SELECT range AS i,
    CASE WHEN range % 5 = 0 THEN 40500000 + (range % 400) * 1000
         ELSE (range * 2654435761) % 170000000 - 85000000 END AS lat_u,
    CASE WHEN range % 5 = 0 THEN -74500000 + (range % 1000) * 1000
         ELSE (range * 40503) % 360000000 - 180000000 END AS lon_u
  FROM range(0, {n})
)
""".strip()


GEO_RE = r" geo:(-?\d+),(-?\d+)"


def with_coords(pages: DataFrame) -> DataFrame:
    """Extract (lon, lat) from text — first geo token wins; rows without a
    token are dropped.  JVM regexp, no Python in the hot path.

    The presence filter is a plain substring `contains` (the generator
    guarantees every ' geo:' token parses), NOT a regexp-result null-guard:
    Catalyst's projection collapse would otherwise inline the extract regex
    into the Filter and evaluate it three times per row — measured 2x
    slowdown on every corpus scan."""
    return (
        pages.where(F.col("text").contains(" geo:"))
        .withColumn("lat", F.regexp_extract("text", GEO_RE, 1).cast("double") / 1e6)
        .withColumn("lon", F.regexp_extract("text", GEO_RE, 2).cast("double") / 1e6)
    )


def with_coords_sql(inner: str) -> str:
    """DuckDB twin of :func:`with_coords` over a pages relation."""
    return f"""
SELECT *,
  CAST(regexp_extract(text, ' geo:(-?\\d+),(-?\\d+)', 1) AS DOUBLE) / 1e6 AS lat,
  CAST(regexp_extract(text, ' geo:(-?\\d+),(-?\\d+)', 2) AS DOUBLE) / 1e6 AS lon
FROM ({inner})
WHERE contains(text, ' geo:')
""".strip()
