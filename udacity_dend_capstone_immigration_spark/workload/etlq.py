"""The reference's END-TO-END ETL pipeline as a driver-checked query.

``immigration_etl_fact`` synthesizes reference-shaped I94 staging rows
deterministically from ``orders`` (so the driver's seed=42 data is the
only input), then runs the REAL pipeline — SAS-label parsing → cleaning
(falsy-zero dates, birth-year bounds, port split, country regex, state
filter, exact dedup) → 5 cross-type broadcast joins → the 19-column fact
projection (reference etl.py:28-61) — and the DuckDB oracle replicates
every step in SQL. This is reference parity checked value-exact on the
full pipeline, not just per-operator.

Synthesis choices exercise every edge: unmatched codes in every dim
(dropped by the net-inner joins), the falsy-zero/null dates, out-of-range
birth years, '99' state and no-comma port rows (dropped during dim
cleaning), and exact duplicates (every 7th row staged twice).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.plans.immigration_etl import run_pipeline, DEMOGRAPHICS_SCHEMA
from udacity_dend_capstone_immigration_spark.sources.readers import local_frame
from udacity_dend_capstone_immigration_spark.workload.base import query, table

#: Miniature SAS proc-format labels (same structure as the reference's
#: I94_SAS_Labels_Descriptions.SAS, incl. the comment-block I94VISA).
LABELS_TEXT = """\
/* I94YR - 4 digit year */
/* I94CIT & I94RES - country codes */
value i94cntyl
   101 =  'ALPHALAND'
   102 =  'BETALIA'
   103 =  'No Country Code (999)'
   104 =  'INVALID: UNKNOWN'
   105 =  'GAMMARA' ;

/* I94PORT - ports of entry */
value $i94prtl
   'ANC'	=	'ANCHORAGE, AK'
   'BOS'	=	'BOSTON, MA'
   'NYC'	=	'NEW YORK, NY'
   'ATL'	=	'ATLANTA, GA'
   'XXX'	=	'No PORT Code (XXX)' ;

/* I94MODE - travel modes */
value i94model
   1 = 'Air'
   2 = 'Sea'
   3 = 'Land'
   9 = 'Not reported' ;

/* I94ADDR - states */
value i94addrl
   'AK'='ALASKA'
   'MA'='MASSACHUSETTS'
   'NY'='NEW YORK'
   'GA'='GEORGIA'
   '99'='All Other Codes' ;

/* I94VISA - Visa codes collapsed into three categories:
   1 = Business
   2 = Pleasure
   3 = Student
*/

run ;
"""

#: The same deterministic staging synthesis, once as Spark exprs and once
#: as SQL text. Kept side by side so drift is visible in review.
_COUNTRIES = ["101", "102", "103", "104", "105", "999"]      # 999 unmatched
_PORTS = ["ANC", "BOS", "NYC", "ATL", "XXX", "UNK"]          # XXX dropped in cleaning, UNK unmatched
_STATES = ["AK", "MA", "NY", "GA", "99", "ZZ"]               # 99 filtered from dim, ZZ unmatched


def _staging(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    k = F.col("o_orderkey")
    base = o.select(
        k.cast("double").alias("cicid"),
        F.lit(2016.0).alias("i94yr"),
        F.lit(4.0).alias("i94mon"),
        (k % 6).cast("int").alias("_ci"),
        (k % 7).cast("int").alias("_pi"),
        ((k + 2) % 6).cast("int").alias("_si"),
        F.when(k % 5 == 0, 0.0).when(k % 5 == 1, None).otherwise((20000 + k % 600).cast("double")).alias("arrdate"),
        F.when(k % 4 == 0, None).otherwise((20100 + k % 500).cast("double")).alias("depdate"),
        (1880 + k % 150).cast("double").alias("biryear"),
        (1 + k % 4).cast("double").alias("i94visa"),
        (1 + k % 5).cast("double").alias("i94mode"),
        F.col("o_orderpriority").alias("gender"),
    )
    arr_c = F.array(*[F.lit(c) for c in _COUNTRIES])
    arr_p = F.array(*[F.lit(p) for p in _PORTS])
    arr_s = F.array(*[F.lit(s) for s in _STATES])
    staged = base.select(
        "cicid", "i94yr", "i94mon",
        F.element_at(arr_c, F.col("_ci") + 1).cast("double").alias("i94res"),
        F.when(F.col("_pi") < 6, F.element_at(arr_p, F.col("_pi") + 1)).alias("i94port"),
        "arrdate",
        "i94mode",
        F.element_at(arr_s, F.col("_si") + 1).alias("i94addr"),
        "depdate",
        F.lit(30.0).alias("i94bir"),
        "i94visa",
        F.lit(1.0).alias("count"),
        F.lit("20160421").alias("dtadfile"),
        F.lit(None).cast("string").alias("visapost"),
        F.lit(None).cast("string").alias("occup"),
        F.lit("G").alias("entdepa"),
        F.lit("O").alias("entdepd"),
        F.lit(None).cast("string").alias("entdepu"),
        F.lit("M").alias("matflag"),
        "biryear",
        F.lit("07202016").alias("dtaddto"),
        "gender",
        F.lit(None).cast("string").alias("insnum"),
        F.lit("UA").alias("airline"),
        (F.col("cicid") + 1e10).alias("admnum"),
        F.lit("0012").alias("fltno"),
        F.lit("WT").alias("visatype"),
    )
    dups = staged.where(F.col("cicid") % 7 == 0)
    return staged.unionByName(dups)


@query(
    "immigration_etl_fact",
    oracle="""
    WITH staging AS (
        SELECT CAST(o_orderkey AS DOUBLE) AS cicid,
               2016.0 AS i94yr, 4.0 AS i94mon,
               CAST(['101','102','103','104','105','999'][(o_orderkey % 6) + 1] AS DOUBLE) AS i94res,
               ['ANC','BOS','NYC','ATL','XXX','UNK'][(o_orderkey % 7) + 1] AS i94port,
               CASE WHEN o_orderkey % 5 = 0 THEN 0.0
                    WHEN o_orderkey % 5 = 1 THEN NULL
                    ELSE CAST(20000 + o_orderkey % 600 AS DOUBLE) END AS arrdate,
               CAST(1 + o_orderkey % 5 AS DOUBLE) AS i94mode,
               ['AK','MA','NY','GA','99','ZZ'][((o_orderkey + 2) % 6) + 1] AS i94addr,
               CASE WHEN o_orderkey % 4 = 0 THEN NULL
                    ELSE CAST(20100 + o_orderkey % 500 AS DOUBLE) END AS depdate,
               30.0 AS i94bir,
               CAST(1 + o_orderkey % 4 AS DOUBLE) AS i94visa,
               CAST(1880 + o_orderkey % 150 AS DOUBLE) AS biryear,
               o_orderpriority AS gender,
               cicid + 1e10 AS admnum
        FROM orders
        WHERE o_orderkey % 7 != 0
        UNION ALL
        SELECT CAST(o_orderkey AS DOUBLE), 2016.0, 4.0,
               CAST(['101','102','103','104','105','999'][(o_orderkey % 6) + 1] AS DOUBLE),
               ['ANC','BOS','NYC','ATL','XXX','UNK'][(o_orderkey % 7) + 1],
               CASE WHEN o_orderkey % 5 = 0 THEN 0.0
                    WHEN o_orderkey % 5 = 1 THEN NULL
                    ELSE CAST(20000 + o_orderkey % 600 AS DOUBLE) END,
               CAST(1 + o_orderkey % 5 AS DOUBLE),
               ['AK','MA','NY','GA','99','ZZ'][((o_orderkey + 2) % 6) + 1],
               CASE WHEN o_orderkey % 4 = 0 THEN NULL
                    ELSE CAST(20100 + o_orderkey % 500 AS DOUBLE) END,
               30.0, CAST(1 + o_orderkey % 4 AS DOUBLE),
               CAST(1880 + o_orderkey % 150 AS DOUBLE),
               o_orderpriority, CAST(o_orderkey AS DOUBLE) + 1e10
        FROM orders
    ),
    cleaned AS (
        SELECT DISTINCT cicid, i94yr, i94mon, i94res, i94port,
               CASE WHEN arrdate IS NULL OR arrdate = 0
                    THEN NULL
                    ELSE strftime(DATE '1960-01-01' + CAST(arrdate AS INT), '%Y-%m-%d') END AS arrdate,
               i94mode, i94addr,
               CASE WHEN depdate IS NULL OR depdate = 0
                    THEN NULL
                    ELSE strftime(DATE '1960-01-01' + CAST(depdate AS INT), '%Y-%m-%d') END AS depdate,
               i94bir, i94visa,
               CASE WHEN biryear BETWEEN 1900 AND 2016
                    THEN CAST(CAST(biryear AS DECIMAL(10,1)) AS VARCHAR) END AS biryear,
               gender, admnum
        FROM staging
    ),
    countries AS (
        SELECT code AS country_code,
               regexp_replace(name, '^No Country.*|INVALID.*|Collapsed.*', 'NA') AS country_name
        FROM (VALUES ('101','ALPHALAND'), ('102','BETALIA'),
                     ('103','No Country Code (999)'), ('104','INVALID: UNKNOWN'),
                     ('105','GAMMARA')) AS t(code, name)
    ),
    ports AS (
        SELECT code AS port_code,
               trim(string_split(name, ',')[1]) AS city,
               CASE WHEN len(string_split(name, ',')) > 1
                    THEN trim(string_split(name, ',')[2]) END AS state_code
        FROM (VALUES ('ANC','ANCHORAGE, AK'), ('BOS','BOSTON, MA'),
                     ('NYC','NEW YORK, NY'), ('ATL','ATLANTA, GA'),
                     ('XXX','No PORT Code (XXX)')) AS t(code, name)
        WHERE len(string_split(name, ',')) > 1
    ),
    states AS (
        SELECT code AS state_code, name AS state_name
        FROM (VALUES ('AK','ALASKA'), ('MA','MASSACHUSETTS'), ('NY','NEW YORK'),
                     ('GA','GEORGIA')) AS t(code, name)
    ),
    visas AS (
        SELECT code AS visa_category_id
        FROM (VALUES ('1'), ('2'), ('3')) AS t(code)
    ),
    modes AS (
        SELECT code AS mode_id
        FROM (VALUES ('1'), ('2'), ('3'), ('9')) AS t(code)
    )
    SELECT s.cicid,
           CAST(s.i94yr AS DOUBLE) AS entry_year,
           CAST(s.i94mon AS DOUBLE) AS entry_month,
           c.country_code AS origin_country_code,
           p.port_code AS port_code,
           s.arrdate AS arrival_date,
           m.mode_id AS travel_mode_code,
           st.state_code AS us_state_code,
           s.depdate AS departure_date,
           s.i94bir AS age,
           v.visa_category_id AS visa_category_code,
           CAST(NULL AS VARCHAR) AS occupation,
           s.gender,
           s.biryear AS birth_year,
           '07202016' AS entry_date,
           'UA' AS airline,
           s.admnum AS admission_number,
           '0012' AS flight_number,
           'WT' AS visa_type
    FROM cleaned s
        JOIN countries c ON CAST(c.country_code AS DOUBLE) = s.i94res
        JOIN ports p ON p.port_code = s.i94port
        JOIN states st ON st.state_code = s.i94addr
        JOIN visas v ON CAST(v.visa_category_id AS DOUBLE) = s.i94visa
        JOIN modes m ON CAST(m.mode_id AS DOUBLE) = s.i94mode
    """,
)
def immigration_etl_fact(spark, sf_dir):
    """Full reference pipeline on synthesized staging. ``occupation`` /
    ``entry_date`` etc. ride through the 19-column projection; the joins
    are the reference's cross-type string-code↔double comparisons."""
    staging = _staging(spark, sf_dir)
    demographics = local_frame(spark, [], DEMOGRAPHICS_SCHEMA)
    result = run_pipeline(spark, staging, demographics, LABELS_TEXT, compat=True)
    return result.fact


@query(
    "immigration_etl_city_demographics",
    oracle="""
    WITH demo AS (
        SELECT CASE c_custkey % 4 WHEN 0 THEN 'New York'
                                  WHEN 1 THEN 'BOSTON'
                                  WHEN 2 THEN 'atlanta'
                                  ELSE 'Nowhere' END AS city,
               CASE c_custkey % 4 WHEN 0 THEN 'NY'
                                  WHEN 1 THEN 'MA'
                                  WHEN 2 THEN 'GA'
                                  ELSE 'KS' END AS state_code,
               CAST(c_custkey % 5 AS INT) AS race_bucket,
               CAST(100 + c_custkey % 50 AS INT) AS male_population,
               CAST(110 + c_custkey % 40 AS INT) AS female_population,
               CAST(210 + c_custkey % 90 AS INT) AS total_population,
               CAST(c_custkey % 10 AS INT) AS number_of_veterans,
               CAST(c_custkey % 20 AS INT) AS foreign_born
        FROM customer
    ),
    rolled AS (
        SELECT city, state_code,
               SUM(male_population) AS male_population,
               SUM(female_population) AS female_population,
               SUM(total_population) AS total_population,
               SUM(number_of_veterans) AS number_of_veterans,
               SUM(foreign_born) AS num_foreign_born
        FROM (SELECT DISTINCT * FROM demo)
        GROUP BY city, state_code
    ),
    ports AS (
        SELECT code AS port_code,
               trim(string_split(name, ',')[1]) AS city,
               CASE WHEN len(string_split(name, ',')) > 1
                    THEN trim(string_split(name, ',')[2]) END AS state_code
        FROM (VALUES ('ANC','ANCHORAGE, AK'), ('BOS','BOSTON, MA'),
                     ('NYC','NEW YORK, NY'), ('ATL','ATLANTA, GA'),
                     ('XXX','No PORT Code (XXX)')) AS t(code, name)
        WHERE len(string_split(name, ',')) > 1
    )
    SELECT p.port_code,
           r.city, r.state_code,
           CAST(r.male_population AS BIGINT) AS male_population,
           CAST(r.female_population AS BIGINT) AS female_population,
           CAST(r.total_population AS BIGINT) AS total_population,
           CAST(r.number_of_veterans AS BIGINT) AS number_of_veterans,
           CAST(r.num_foreign_born AS BIGINT) AS num_foreign_born
    FROM ports p JOIN rolled r
        ON lower(r.city) = lower(p.city) AND r.state_code = p.state_code
    """,
)
def immigration_etl_city_demographics(spark, sf_dir):
    """The ETL's demographics branch (reference etl.py:327-357):
    per-race rows synthesized from customer with case-mismatched city
    names, deduped, SUM-rolled per (city, state), then case-insensitively
    inner-joined to the cleaned ports dim. 'Nowhere, KS' rows prove the
    inner-join drop; 'BOSTON'/'atlanta' prove the lower() key."""
    from udacity_dend_capstone_immigration_spark.plans.immigration_etl import (
        build_city_demographics,
        build_label_dims,
        clean_demographics,
        clean_ports,
    )

    cust = table(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    city = (
        F.when(k % 4 == 0, F.lit("New York"))
        .when(k % 4 == 1, F.lit("BOSTON"))
        .when(k % 4 == 2, F.lit("atlanta"))
        .otherwise(F.lit("Nowhere"))
    )
    state = (
        F.when(k % 4 == 0, F.lit("NY"))
        .when(k % 4 == 1, F.lit("MA"))
        .when(k % 4 == 2, F.lit("GA"))
        .otherwise(F.lit("KS"))
    )
    demo = cust.select(
        city.alias("city"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("double").alias("median_age"),
        (100 + k % 50).cast("int").alias("male_population"),
        (110 + k % 40).cast("int").alias("female_population"),
        (210 + k % 90).cast("int").alias("total_population"),
        (k % 10).cast("int").alias("number_of_veterans"),
        (k % 20).cast("int").alias("foreign_born"),
        F.lit(None).cast("double").alias("average_household_size"),
        state.alias("state_code"),
        (k % 5).cast("string").alias("race"),
        F.lit(None).cast("int").alias("count"),
    )
    ports = clean_ports(build_label_dims(spark, LABELS_TEXT)["ports"])
    out = build_city_demographics(clean_demographics(demo), ports)
    return out.select(
        "port_code", "city", "state_code",
        F.col("male_population").cast("long").alias("male_population"),
        F.col("female_population").cast("long").alias("female_population"),
        F.col("total_population").cast("long").alias("total_population"),
        F.col("number_of_veterans").cast("long").alias("number_of_veterans"),
        F.col("num_foreign_born").cast("long").alias("num_foreign_born"),
    )
