"""Crocus-domain queries: the flagship 'confront' + locale normalization.

These re-express the reference's reason for existing (``README.md:3-5``:
"obtain info from Vanguard and iShares ETFs and confront them with
eachover") as engine queries:

- ``flagship_confront``  — the cross-entity comparison vertical slice over
  the driver star schema (scan→filter→broadcast-join→agg→window→sort).
- ``normalize_locale``   — the S6/D2/D3 normalization layer on raw provider
  strings exactly as the golden outputs shape them
  (``output_examples/ishares.json`` / ``vanguard.json``).
- ``products_union_dedup`` — schema-divergent union + last-wins re-key dedup
  (crocus U1/U2: ``vanguard.py:101-109``, ``ishares.py:149``).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crocus_spark import normalize as N
from crocus_spark.io import load, spread
from crocus_spark.queries import register
from crocus_spark.queries._det import dsum, dsum_sql
from crocus_spark.session import materialize


@register(
    "flagship_confront",
    oracle=f"""
    WITH rev AS (
      SELECT r_name AS region, c_mktsegment AS segment,
             COUNT(*) AS n_lines,
             {dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY r_name, c_mktsegment
    )
    SELECT region, segment, n_lines, revenue,
           RANK() OVER (PARTITION BY region
                        ORDER BY revenue DESC, segment) AS revenue_rank
    FROM rev
    ORDER BY region, revenue_rank
    """,
    tags=("headline", "flagship"),
)
def flagship_confront(spark, sf_dir):
    """The flagship: revenue 'confront' across regions × market segments.

    One query through the whole vertical — parquet scan with pushed filter,
    two large-side joins, two broadcast dim joins, partial+final hash agg,
    ranking window, global sort. The direct engine analog of the reference's
    unimplemented cross-provider comparison (`README.md:4`).

    Scale notes: nation/region broadcast (KB); customer is broadcast at test
    SF but becomes a shuffle join at 100 TB — AQE decides at runtime from
    actual sizes; the agg output is |region|×|segment| rows (tiny), so the
    window + sort cost nothing.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    )
    # the single-row-group fixture scan pins the probe+partial-agg stage
    # to one task (measured 0.81 s of 1.8 s); keyed spread fans it out,
    # no-op at production split counts (io.spread contract). The
    # shipdate filter still pushes below the exchange to the scan.
    li = spread(li, spark, cols=("l_orderkey",), rows_per_task=4000)
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")

    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )
    w = Window.partitionBy("region").orderBy(F.col("revenue").desc(), F.col("segment"))
    return rev.withColumn("revenue_rank", F.rank().over(w)).orderBy(
        "region", "revenue_rank"
    )


# ---------------------------------------------------------------------------
# Raw provider rows, field-for-field from the reference's golden outputs
# (`output_examples/ishares.json`, `output_examples/vanguard.json`; see
# FIXTURES.md §B). Values are public example data from the reference repo.
# ---------------------------------------------------------------------------

_ISHARES_RAW = [
    Row(
        isin="IE00B5BMR087",
        name="iShares Core S&P 500 UCITS ETF\nUSD (Acc)",
        fund_type=None,
        currency="USD",
        ter="0,07",
        price="USD 632,42",
        date="28 feb 2025",
    ),
    Row(
        isin="IE00B4L5Y983",
        name="iShares Core MSCI World UCITS ETF\nUSD (Acc)",
        fund_type=None,
        currency="USD",
        ter="0,20",
        price="USD 105,81",
        date="28 feb 2025",
    ),
]

_VANGUARD_RAW = [
    Row(
        isin="IE00BK5BQT80",
        name="Vanguard FTSE All-World UCITS ETF (USD) ACCUMULATING",
        fund_type="equity",
        currency="USD",
        ter="0,22%",
        price="144,12 USD",
        date="21/02/25",
    ),
    Row(
        isin="IE00BZ163L38",
        name="Vanguard EUR Corporate Bond UCITS ETF (EUR) DISTRIBUTING",
        fund_type="bond",
        currency="EUR",
        ter="0,09%",
        price="5,66 €",
        date="21/02/25",
    ),
    # duplicate ISIN of the first row: exercises last-wins re-key dedup (U2)
    Row(
        isin="IE00BK5BQT80",
        name="Vanguard FTSE All-World UCITS ETF (USD) ACCUMULATING",
        fund_type="multi_asset",
        currency="USD",
        ter="0,22%",
        price="143,99 USD",
        date="20/02/25",
    ),
]

_PRODUCTS_VALUES_SQL = """
    ishares_raw(isin, name, fund_type, currency, ter, price, dt) AS (VALUES
      ('IE00B5BMR087', 'iShares Core S&P 500 UCITS ETF' || chr(10) || 'USD (Acc)',
       NULL, 'USD', '0,07', 'USD 632,42', '28 feb 2025'),
      ('IE00B4L5Y983', 'iShares Core MSCI World UCITS ETF' || chr(10) || 'USD (Acc)',
       NULL, 'USD', '0,20', 'USD 105,81', '28 feb 2025')
    ),
    vanguard_raw(isin, name, fund_type, currency, ter, price, dt) AS (VALUES
      ('IE00BK5BQT80', 'Vanguard FTSE All-World UCITS ETF (USD) ACCUMULATING',
       'equity', 'USD', '0,22%', '144,12 USD', '21/02/25'),
      ('IE00BZ163L38', 'Vanguard EUR Corporate Bond UCITS ETF (EUR) DISTRIBUTING',
       'bond', 'EUR', '0,09%', '5,66 €', '21/02/25'),
      ('IE00BK5BQT80', 'Vanguard FTSE All-World UCITS ETF (USD) ACCUMULATING',
       'multi_asset', 'USD', '0,22%', '143,99 USD', '20/02/25')
    )
"""

# DuckDB expression mirroring normalize.parse_date_any: dd/MM/yy via strptime,
# Italian long form via a month-name CASE map.
_ORACLE_DATE_ANY = """
    CASE WHEN regexp_matches(dt, '^\\d{1,2}/\\d{1,2}/\\d{2}$')
         THEN strptime(dt, '%d/%m/%y')::DATE
         ELSE strptime(
            regexp_extract(dt, '^(\\d{1,2})', 1) || ' ' ||
            CASE lower(regexp_extract(dt, '^\\d{1,2}\\s+(\\w+)', 1))
              WHEN 'gen' THEN '01' WHEN 'feb' THEN '02' WHEN 'mar' THEN '03'
              WHEN 'apr' THEN '04' WHEN 'mag' THEN '05' WHEN 'giu' THEN '06'
              WHEN 'lug' THEN '07' WHEN 'ago' THEN '08' WHEN 'set' THEN '09'
              WHEN 'ott' THEN '10' WHEN 'nov' THEN '11' WHEN 'dic' THEN '12'
            END || ' ' || regexp_extract(dt, '(\\d{4})$', 1),
            '%d %m %Y')::DATE
    END
"""

_ORACLE_TER = (
    "CAST(replace(replace(replace(trim(ter), '%', ''), '.', ''), ',', '.')"
    " AS DOUBLE)"
)
_ORACLE_AMOUNT = (
    "CAST(replace(replace("
    "regexp_extract(price, '([0-9][0-9\\.]*,[0-9]+|[0-9]+(?:\\.[0-9]+)?)', 1),"
    " '.', ''), ',', '.') AS DOUBLE)"
)
_ORACLE_CCY = """
    CASE WHEN regexp_extract(price, '([A-Z]{3})', 1) <> ''
         THEN regexp_extract(price, '([A-Z]{3})', 1)
         ELSE CASE regexp_extract(price, '([€$£])', 1)
                WHEN '€' THEN 'EUR' WHEN '$' THEN 'USD' WHEN '£' THEN 'GBP'
              END
    END
"""


_RAW_SCHEMA = (
    "isin string, name string, fund_type string, currency string, "
    "ter string, price string, date string"
)


def _raw_products(spark):
    ishares = spark.createDataFrame(_ISHARES_RAW, schema=_RAW_SCHEMA)
    vanguard = spark.createDataFrame(_VANGUARD_RAW, schema=_RAW_SCHEMA)
    return ishares, vanguard


@register(
    "normalize_locale",
    oracle=f"""
    WITH {_PRODUCTS_VALUES_SQL},
    both_raw AS (
      SELECT isin, name, fund_type, currency, ter, price, dt, 'ishares' AS provider
      FROM ishares_raw
      UNION ALL
      SELECT isin, name, fund_type, currency, ter, price, dt, 'vanguard' AS provider
      FROM vanguard_raw
    )
    SELECT isin,
           split_part(name, chr(10), 1) AS name,
           provider,
           {_ORACLE_TER} AS ter_pct,
           {_ORACLE_AMOUNT} AS price_amount,
           trim({_ORACLE_CCY}) AS price_currency,
           strftime({_ORACLE_DATE_ANY}, '%Y-%m-%d') AS nav_date
    FROM both_raw
    ORDER BY provider, isin, price_amount
    """,
    tags=("crocus", "normalize"),
)
def normalize_locale(spark, sf_dir):
    """The normalization layer (crocus S1/S6/D2/D3) on golden-output-shaped
    raw rows: newline-strip names, parse locale TER/price/currency, parse
    both provider date dialects. Pure built-in expressions — runs at scan
    speed, no UDFs."""
    ishares, vanguard = _raw_products(spark)
    both = ishares.withColumn("provider", F.lit("ishares")).unionByName(
        vanguard.withColumn("provider", F.lit("vanguard"))
    )
    return (
        both.select(
            "isin",
            N.strip_after_newline("name").alias("name"),
            "provider",
            N.parse_ter("ter").cast("double").alias("ter_pct"),
            N.parse_price_amount("price").cast("double").alias("price_amount"),
            N.parse_price_currency("price").alias("price_currency"),
            # emitted as ISO string: date-vs-midnight-timestamp repr differs
            # between Spark/DuckDB result frames; strings hash identically
            F.date_format(N.parse_date_any("date"), "yyyy-MM-dd").alias("nav_date"),
        )
        .orderBy("provider", "isin", "price_amount")
    )


@register(
    "products_union_dedup",
    oracle=f"""
    WITH {_PRODUCTS_VALUES_SQL},
    both_raw AS (
      SELECT isin, name, fund_type, currency, 1 AS src_priority,
             ROW_NUMBER() OVER () AS src_order
      FROM ishares_raw
      UNION ALL
      SELECT isin, name, fund_type, currency, 2 AS src_priority,
             ROW_NUMBER() OVER () AS src_order
      FROM vanguard_raw
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY isin ORDER BY src_priority DESC, src_order DESC
      ) AS rn
      FROM both_raw
    )
    SELECT isin, split_part(name, chr(10), 1) AS name, fund_type, currency
    FROM ranked WHERE rn = 1
    ORDER BY isin
    """,
    tags=("crocus", "setop"),
)
def products_union_dedup(spark, sf_dir):
    """Schema-divergent union + deterministic last-wins dedup.

    crocus U1 (`{**equity, **bond, **multi_asset}` dict unpack,
    vanguard.py:101-109) and U2 (`final_json[isin] = ...` overwrite,
    ishares.py:149) both implement 'last writer wins'. Dict overwrite order
    is meaningless in a distributed engine, so the engine makes the ordering
    explicit: a priority + arrival order, window row_number top-1. Same
    semantics, deterministic under any parallelism."""
    ishares, vanguard = _raw_products(spark)

    def tag(df, priority):
        w = Window.orderBy(F.monotonically_increasing_id())
        return df.withColumn("src_priority", F.lit(priority)).withColumn(
            "src_order", F.row_number().over(w)
        )

    both = tag(ishares, 1).select(
        "isin", "name", "fund_type", "currency", "src_priority", "src_order"
    ).unionByName(
        tag(vanguard, 2).select(
            "isin", "name", "fund_type", "currency", "src_priority", "src_order"
        )
    )
    w = Window.partitionBy("isin").orderBy(
        F.col("src_priority").desc(), F.col("src_order").desc()
    )
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "isin",
            N.strip_after_newline("name").alias("name"),
            "fund_type",
            "currency",
        )
        .orderBy("isin")
    )


@register(
    "url_parse_filetype",
    oracle="""
    WITH urls(isin, holdings_file) AS (VALUES
      ('IE00B5BMR087',
       'https://www.ishares.com/it/investitore-privato/it/prodotti/253743/fund/1506575546154.ajax?fileType=csv&fileName=SXR8_holdings&dataType=fund'),
      ('IE00B4L5Y983',
       'https://www.ishares.com/it/investitore-privato/it/prodotti/251882/fund/1506575546154.ajax?fileType=xls&fileName=SWDA_holdings&dataType=fund'),
      ('IE00TESTNOQ1', 'https://www.ishares.com/it/prodotti/000000/fund.ajax')
    )
    SELECT isin,
           COALESCE(nullif(regexp_extract(holdings_file,
             'fileType=([^&]+)', 1), ''), 'csv') AS file_type
    FROM urls
    ORDER BY isin
    """,
    tags=("crocus", "scalar"),
)
def url_parse_filetype(spark, sf_dir):
    """URL query-param extraction with default (crocus S5: the
    `parse_qs(...).get("fileType", ["csv"])[0]` at ishares.py:181-182),
    via F.parse_url — JVM-side, codegen-friendly."""
    rows = [
        Row(
            isin="IE00B5BMR087",
            holdings_file="https://www.ishares.com/it/investitore-privato/it/prodotti/253743/fund/1506575546154.ajax?fileType=csv&fileName=SXR8_holdings&dataType=fund",
        ),
        Row(
            isin="IE00B4L5Y983",
            holdings_file="https://www.ishares.com/it/investitore-privato/it/prodotti/251882/fund/1506575546154.ajax?fileType=xls&fileName=SWDA_holdings&dataType=fund",
        ),
        Row(isin="IE00TESTNOQ1", holdings_file="https://www.ishares.com/it/prodotti/000000/fund.ajax"),
    ]
    df = spark.createDataFrame(rows)
    from crocus_spark.normalize import file_type_from_url

    return df.select(
        "isin", file_type_from_url("holdings_file").alias("file_type")
    ).orderBy("isin")


@register(
    "normalize_ticker_exchange",
    oracle="""
    WITH t(isin, ticker) AS (VALUES
      ('IE00BK5BQT80', 'VWCE IM'),
      ('IE00BK5BQT80', 'VWCE GY'),
      ('IE00B3XXRP09', 'VUSA LN'),
      ('IE00B4L5Y983', 'IWDA NA'),
      ('IE00B3RBWM25', 'VWRL SW'),
      ('US9229087690', 'VTI UN'),
      ('US0000000XX1', 'ZZZZ QQ'),
      ('IE00NOSUFFIX', 'VGWL'),
      ('IE00NULLTICK', NULL)
    )
    SELECT isin, ticker,
           CASE WHEN ticker IS NULL THEN NULL
                ELSE split_part(trim(ticker), ' ', 1) END AS symbol,
           CASE split_part(trim(ticker), ' ', 2)
                WHEN 'IM' THEN 'XMIL' WHEN 'LN' THEN 'XLON'
                WHEN 'GY' THEN 'XETR' WHEN 'GR' THEN 'XFRA'
                WHEN 'FP' THEN 'XPAR' WHEN 'NA' THEN 'XAMS'
                WHEN 'SW' THEN 'XSWX' WHEN 'SM' THEN 'XMAD'
                WHEN 'UN' THEN 'XNYS' WHEN 'UW' THEN 'XNAS'
                END AS mic,
           CASE split_part(trim(ticker), ' ', 2)
                WHEN 'IM' THEN 'Borsa Italiana'
                WHEN 'LN' THEN 'London Stock Exchange'
                WHEN 'GY' THEN 'Deutsche Boerse Xetra'
                WHEN 'GR' THEN 'Deutsche Boerse Frankfurt'
                WHEN 'FP' THEN 'Euronext Paris'
                WHEN 'NA' THEN 'Euronext Amsterdam'
                WHEN 'SW' THEN 'SIX Swiss Exchange'
                WHEN 'SM' THEN 'Bolsa de Madrid'
                WHEN 'UN' THEN 'New York Stock Exchange'
                WHEN 'UW' THEN 'Nasdaq'
                END AS exchange_name
    FROM t
    ORDER BY isin, ticker
    """,
    tags=("crocus", "normalize"),
)
def normalize_ticker_exchange(spark, sf_dir):
    """Bloomberg ticker → exchange mapping — the reference's open TODO on
    the Vanguard ticker column (vanguard.py:74-76, 'VWCE IM'): split the
    bare symbol from the Bloomberg suffix and map the suffix to its ISO
    10383 MIC + venue name via a bounded dimension literal (normalize.py
    BBG_EXCH). Unknown suffixes and suffix-less tickers surface NULL —
    quarantine semantics, never a guessed venue."""
    rows = [
        ("IE00BK5BQT80", "VWCE IM"),
        ("IE00BK5BQT80", "VWCE GY"),
        ("IE00B3XXRP09", "VUSA LN"),
        ("IE00B4L5Y983", "IWDA NA"),
        ("IE00B3RBWM25", "VWRL SW"),
        ("US9229087690", "VTI UN"),
        ("US0000000XX1", "ZZZZ QQ"),
        ("IE00NOSUFFIX", "VGWL"),
        ("IE00NULLTICK", None),
    ]
    df = spark.createDataFrame(rows, "isin string, ticker string")
    return df.select(
        "isin",
        "ticker",
        N.ticker_symbol("ticker").alias("symbol"),
        N.ticker_mic("ticker").alias("mic"),
        N.ticker_exchange_name("ticker").alias("exchange_name"),
    ).orderBy("isin", "ticker")


@register(
    "holdings_overlap_confront",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region, p.p_brand AS brand,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(25,6))) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2, 3
    ), w AS (
      SELECT nation, region, brand,
             round(CAST(rev AS DOUBLE)
                   / CAST(SUM(rev) OVER (PARTITION BY nation) AS DOUBLE),
                   12) AS wt
      FROM rev
    )
    SELECT a.region AS region,
           a.nation AS nation_a, b.nation AS nation_b,
           round(SUM(least(a.wt, b.wt)), 6) AS overlap
    FROM w a JOIN w b
      ON a.brand = b.brand AND a.region = b.region AND a.nation < b.nation
    GROUP BY a.region, a.nation, b.nation
    ORDER BY overlap DESC, a.region, nation_a, nation_b
    LIMIT 20
    """,
    tags=("crocus", "confront", "headline"),
)
def holdings_overlap_confront(spark, sf_dir):
    """Weighted portfolio overlap — the reference's declared north star
    ('confront ETFs with eachother', README.md:3-5) applied to holdings
    WEIGHTS, not just metadata: each nation's supplier revenue across part
    brands is a portfolio; overlap(a,b) = Σ_brand min(w_a, w_b), the
    standard fund-overlap measure. Spark shape: facts join only BROADCAST
    dims, weights come from one grouped aggregate plus a nation-partition
    window (no second scan), and the pair join keys on (brand, region) —
    the pair space is dimension-sized, never fact-sized. Weights are
    rounded to 12 before the pair sum so both engines fold identical
    doubles; the 6-digit output round absorbs sum-order ulps."""
    li = load(spark, sf_dir, "lineitem")
    # same single-row-group pathology as flagship_confront: the 4-way
    # broadcast probe + decimal partial agg ran as one task (0.71 s);
    # keyed spread fans it out, no-op at production split counts
    li = spread(li, spark, cols=("l_orderkey",), rows_per_task=4000)
    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    re = load(spark, sf_dir, "region")
    pa = load(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .join(F.broadcast(pa.select("p_partkey", "p_brand")),
              li.l_partkey == pa.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).alias("rev")
        )
    )
    wnation = Window.partitionBy("nation")
    w = rev.select(
        "nation",
        "region",
        "brand",
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(wnation).cast("double"),
            12,
        ).alias("wt"),
    )
    # Materialize the weights ONCE before the self-join: `w` feeds both
    # branches of the pair diamond, and the static plan otherwise carries
    # the whole fact pipeline (scan, spread exchange, 4 broadcast probes,
    # partial agg) TWICE — runtime ReuseExchange dedupes it on some hosts
    # but not reliably (r11 driver: 0.718x + budget violation). `w` is
    # dimension-sized (nation x brand, ~625 rows), so the checkpoint is
    # cheap and the self-join plan has zero fact-side exchanges.
    w = materialize(w)
    a = w.alias("a")
    b = w.alias("b")
    pairs = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand"))
        & (F.col("a.region") == F.col("b.region"))
        & (F.col("a.nation") < F.col("b.nation")),
    )
    return (
        pairs.groupBy(
            F.col("a.region").alias("region"),
            F.col("a.nation").alias("nation_a"),
            F.col("b.nation").alias("nation_b"),
        )
        .agg(
            F.round(
                F.sum(F.least(F.col("a.wt"), F.col("b.wt"))), 6
            ).alias("overlap")
        )
        .orderBy(F.desc("overlap"), "region", "nation_a", "nation_b")
        .limit(20)
    )


@register(
    "normalize_fx_convert",
    oracle="""
    WITH prices(isin, amount, ccy) AS (VALUES
      ('IE00B5BMR087', 632.42, 'USD'),
      ('IE00B4L5Y983', 105.87, 'USD'),
      ('IE00BK5BQT80', 144.12, 'EUR'),
      ('IE00B3XXRP09',  92.30, 'GBP'),
      ('IE00B3RBWM25', 130.05, 'CHF'),
      ('IE00UNKNOWN1',  50.00, 'JPY')
    ), fx(ccy, to_eur) AS (VALUES
      ('EUR', 1.0), ('USD', 0.92), ('GBP', 1.17), ('CHF', 1.04)
    )
    SELECT p.isin, p.amount, p.ccy,
           round(p.amount * f.to_eur, 4) AS amount_eur,
           f.to_eur IS NULL AS fx_missing
    FROM prices p LEFT JOIN fx f ON p.ccy = f.ccy
    ORDER BY p.isin
    """,
    tags=("crocus", "normalize", "fx"),
)
def normalize_fx_convert(spark, sf_dir):
    """Currency normalization — the step the reference's cross-provider
    price comparison silently requires (prices arrive as 'USD 632,42' vs
    '144,12 EUR' vs '5,66 €', ishares.json:7 / vanguard.json:8,:20; a
    confront across them is meaningless until amounts share a
    denomination). The FX table is a bounded dimension literal that
    BROADCASTS onto the price scan; unknown currencies surface
    fx_missing = true with a NULL amount instead of silently dropping or
    guessing — the same quarantine discipline as the ticker mapping. At
    100 TB the FX dim is dated (valid_from per rate) and the join adds
    the as-of condition — same broadcast shape."""
    rows = [
        ("IE00B5BMR087", 632.42, "USD"),
        ("IE00B4L5Y983", 105.87, "USD"),
        ("IE00BK5BQT80", 144.12, "EUR"),
        ("IE00B3XXRP09", 92.30, "GBP"),
        ("IE00B3RBWM25", 130.05, "CHF"),
        ("IE00UNKNOWN1", 50.00, "JPY"),
    ]
    prices = spark.createDataFrame(
        rows, "isin string, amount double, ccy string"
    )
    fx = spark.createDataFrame(
        [("EUR", 1.0), ("USD", 0.92), ("GBP", 1.17), ("CHF", 1.04)],
        "ccy string, to_eur double",
    )
    return (
        prices.join(F.broadcast(fx), "ccy", "left")
        .select(
            "isin",
            "amount",
            "ccy",
            F.round(F.col("amount") * F.col("to_eur"), 4).alias("amount_eur"),
            F.col("to_eur").isNull().alias("fx_missing"),
        )
        .orderBy("isin")
    )


_DIRTY_URLS = [
    ("u01", "https://WWW.iShares.com:443/it/prodotti/253743/fund?b=2&a=1&utm_source=mail#top"),
    ("u02", "https://www.ishares.com/it/prodotti/253743/fund?a=1&b=2"),
    ("u03", "https://www.ishares.com/it/prodotti/253743/fund/?utm_campaign=x&b=2&a=1"),
    ("u04", "http://www.vanguard.it:80/etf/list?gclid=abc123"),
    ("u05", "http://www.vanguard.it/etf/list"),
    ("u06", "https://www.ishares.com/it/prodotti/251882/fund?fileType=xls"),
    ("u07", "https://www.ishares.com/it/prodotti/251882/fund?fileType=xls&fbclid=zzz"),
    ("u08", "https://www.ishares.com"),
    ("u09", "https://www.ishares.com/#frag"),
    ("u10", "HTTPS://www.ishares.com/it/prodotti/253743/FUND?a=1&b=2"),
]
_TRACK_RE = "^(utm_[^=]*|fbclid|gclid)="


@register(
    "normalize_url_canonical",
    oracle=f"""
    WITH urls(url_id, url) AS (VALUES
      {", ".join(f"('{i}', '{u}')" for i, u in _DIRTY_URLS)}
    ),
    parts AS (
      SELECT url_id,
             lower(regexp_extract(url, '^([hH][tT][tT][pP][sS]?)://', 1))
               AS scheme,
             lower(regexp_replace(
               regexp_extract(url, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1),
               ':(80|443)$', '')) AS host,
             regexp_replace(
               regexp_extract(url, '^[hH][tT][tT][pP][sS]?://[^/?#]+([^?#]*)',
                              1), '/+$', '') AS path0,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '\\?(.*)$', 1) AS query0
      FROM urls
    ),
    canon AS (
      SELECT url_id,
             scheme || '://' || host
             || CASE WHEN path0 = '' THEN '/' ELSE path0 END
             || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
      FROM (
        SELECT url_id, scheme, host, path0,
               COALESCE(array_to_string(list_sort(list_filter(
                 string_split(query0, '&'),
                 p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}')
               )), '&'), '') AS q
        FROM parts
      )
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(url_id) AS first_seen
    FROM canon
    GROUP BY canonical
    ORDER BY canonical
    """,
    tags=("crocus", "normalize", "url"),
)
def normalize_url_canonical(spark, sf_dir):
    """URL canonicalization for crawl dedup — the rule set that collapses
    scheme/host case, default ports (:80/:443), fragments, tracking
    parameters (utm_*/fbclid/gclid), query-parameter order, and trailing
    slashes into ONE canonical key. On the fixture set, 10 crawled URLs
    collapse to 5 canonical pages — the dedup a crawler needs BEFORE
    content hashing (the reference builds its .ajax holdings URLs from
    parts, ishares.py:97-137; this is the inverse discipline).

    Pure string/regex expressions on both engines (no UDF, no network);
    the lowercase-scheme-and-host + sorted-params form follows RFC 3986
    §6's normalization guidance. Spark shape: scan-fused projection, one
    canonical-key aggregate."""
    rows = [(i, u) for i, u in _DIRTY_URLS]
    df = spark.createDataFrame(rows, "url_id STRING, url STRING")
    scheme = F.lower(
        F.regexp_extract("url", r"^([hH][tT][tT][pP][sS]?)://", 1)
    )
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract("url", r"^[hH][tT][tT][pP][sS]?://([^/?#]+)", 1),
            r":(80|443)$",
            "",
        )
    )
    path0 = F.regexp_replace(
        F.regexp_extract(
            "url", r"^[hH][tT][tT][pP][sS]?://[^/?#]+([^?#]*)", 1
        ),
        r"/+$",
        "",
    )
    query0 = F.regexp_extract(
        F.regexp_replace("url", r"#.*$", ""), r"\?(.*)$", 1
    )
    q = F.concat_ws(
        "&",
        F.array_sort(
            F.filter(
                F.split(query0, "&"),
                lambda p: (p != "") & ~p.rlike(_TRACK_RE),
            )
        ),
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path0 == "", F.lit("/")).otherwise(path0),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        df.select("url_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("url_id").alias("first_seen"),
        )
        .orderBy("canonical")
    )
