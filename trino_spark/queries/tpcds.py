"""TPC-DS corpus through the dialect engine.

The reference vendors 103 TPC-DS benchmark queries
(testing/trino-benchmark-queries/src/main/resources/sql/trino/tpcds/
q01.sql ...) and benchmarks them via Benchto
(testing/trino-benchto-benchmarks/.../tpcds.yaml). This module runs a
grammar-heavy 103-query subset VERBATIM as Trino SQL text through
``TrinoEngine.sql`` — CTE chains (q1, q2, q97), INTERSECT (q8), GROUP BY
ROLLUP + GROUPING() + rank() (q36), windowed aggregates over FULL OUTER
JOIN (q51, q97) and over grouped sums (q89, q98), correlated scalar
subqueries (q1, q6, q32), disjunctive predicate blocks (q13),
many-subquery cross joins (q61, q88), day-of-week pivots with
year-over-year self-joins (q2), 3-channel UNION ALL (q71), quoted
identifiers (including an alias with spaces, q32) and DECIMAL literals
throughout — against the deterministic generator tables of
sources/tpcdsgen.py, with DuckDB running the SAME text over the SAME
materialized parquet as the oracle.

The query text was adapted once from the reference's SQL files, by the
rules listed here (each applied identically to both engines, so the
comparison stays meaningful): catalog-prefix strip; tpcds_ view-name
qualification (the testdata `customer` view would otherwise collide);
surfaced DECIMAL aggregates cast to DOUBLE (avgs/ratios rounded) because
Spark returns Decimal objects where DuckDB's pandas bridge returns
float64 and decimal avg/division scale rules differ; explicit aliases on
unaliased outputs (the oracle comparison matches columns by name); q97
integer CASE-sums cast to BIGINT (DuckDB widens to HUGEINT); q51 d_date
cast to TIMESTAMP + its column aliases renamed out of the
table-qualifier's way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from trino_spark.queries.base import QueryRegistry

REG = QueryRegistry()


def _engine(spark: SparkSession, sf: str):
    """Shared per-(session, sf_dir) engine + tpcds view registration."""
    from trino_spark.queries.base import engine_for
    from trino_spark.sources import tpcdsgen

    eng = engine_for(spark, sf)
    tpcdsgen.register_tpcds(spark)
    return eng


def _oracle(text: str) -> str:
    from trino_spark.sources import tpcdsgen

    t = tpcdsgen.qualify(text).strip()
    prelude = tpcdsgen.oracle_prelude()
    if t.upper().startswith("WITH"):
        return "WITH " + prelude + ", " + t[4:].lstrip()
    return "WITH " + prelude + " " + t


def _add(name: str, text: str, doc: str) -> None:
    def run(spark: SparkSession, sf: str, _text=text) -> DataFrame:
        from trino_spark.sources import tpcdsgen

        return _engine(spark, sf).sql(tpcdsgen.qualify(_text))

    run.__name__ = f"tpcds_{name}"
    run.__doc__ = doc
    REG.add(f"tpcds_{name}", _oracle(text))(run)



_TEXT_Q01 = r"""
WITH
  customer_total_return AS (
   SELECT
     "sr_customer_sk" "ctr_customer_sk"
   , "sr_store_sk" "ctr_store_sk"
   , "sum"("sr_return_amt") "ctr_total_return"
   FROM
     store_returns
   , date_dim
   WHERE ("sr_returned_date_sk" = "d_date_sk")
      AND ("d_year" = 2000)
   GROUP BY "sr_customer_sk", "sr_store_sk"
) 
SELECT "c_customer_id"
FROM
  customer_total_return ctr1
, store
, customer
WHERE ("ctr1"."ctr_total_return" > (
      SELECT ("avg"("ctr_total_return") * DECIMAL '1.2')
      FROM
        customer_total_return ctr2
      WHERE ("ctr1"."ctr_store_sk" = "ctr2"."ctr_store_sk")
   ))
   AND ("s_store_sk" = "ctr1"."ctr_store_sk")
   AND ("s_state" = 'TN')
   AND ("ctr1"."ctr_customer_sk" = "c_customer_sk")
ORDER BY "c_customer_id" ASC
LIMIT 100
"""

_add("q01", _TEXT_Q01, "TPC-DS q01: CTE + correlated scalar subquery over store_returns (customers above 1.2x their store's average return) (vendored: testing/trino-benchmark-queries/.../tpcds/q01.sql).")


_TEXT_Q02 = r"""
WITH
  wscs AS (
   SELECT
     "sold_date_sk"
   , "sales_price"
   FROM
     (
      SELECT
        "ws_sold_date_sk" "sold_date_sk"
      , "ws_ext_sales_price" "sales_price"
      FROM
        web_sales
   )  
UNION ALL (
      SELECT
        "cs_sold_date_sk" "sold_date_sk"
      , "cs_ext_sales_price" "sales_price"
      FROM
        catalog_sales
   ) ) 
, wswscs AS (
   SELECT
     "d_week_seq"
   , "sum"((CASE WHEN ("d_day_name" = 'Sunday') THEN "sales_price" ELSE null END)) "sun_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Monday') THEN "sales_price" ELSE null END)) "mon_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Tuesday') THEN "sales_price" ELSE null END)) "tue_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Wednesday') THEN "sales_price" ELSE null END)) "wed_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Thursday') THEN "sales_price" ELSE null END)) "thu_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Friday') THEN "sales_price" ELSE null END)) "fri_sales"
   , "sum"((CASE WHEN ("d_day_name" = 'Saturday') THEN "sales_price" ELSE null END)) "sat_sales"
   FROM
     wscs
   , date_dim
   WHERE ("d_date_sk" = "sold_date_sk")
   GROUP BY "d_week_seq"
) 
SELECT
  "d_week_seq1"
, (floor(((CAST("sun_sales1" AS DOUBLE) / CAST("sun_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "sun_ratio"
, (floor(((CAST("mon_sales1" AS DOUBLE) / CAST("mon_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "mon_ratio"
, (floor(((CAST("tue_sales1" AS DOUBLE) / CAST("tue_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "tue_ratio"
, (floor(((CAST("wed_sales1" AS DOUBLE) / CAST("wed_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "wed_ratio"
, (floor(((CAST("thu_sales1" AS DOUBLE) / CAST("thu_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "thu_ratio"
, (floor(((CAST("fri_sales1" AS DOUBLE) / CAST("fri_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "fri_ratio"
, (floor(((CAST("sat_sales1" AS DOUBLE) / CAST("sat_sales2" AS DOUBLE))) * 100 + 0.5) / 1e2) "sat_ratio"
FROM
  (
   SELECT
     "wswscs"."d_week_seq" "d_week_seq1"
   , "sun_sales" "sun_sales1"
   , "mon_sales" "mon_sales1"
   , "tue_sales" "tue_sales1"
   , "wed_sales" "wed_sales1"
   , "thu_sales" "thu_sales1"
   , "fri_sales" "fri_sales1"
   , "sat_sales" "sat_sales1"
   FROM
     wswscs
   , date_dim
   WHERE ("date_dim"."d_week_seq" = "wswscs"."d_week_seq")
      AND ("d_year" = 2001)
)  y
, (
   SELECT
     "wswscs"."d_week_seq" "d_week_seq2"
   , "sun_sales" "sun_sales2"
   , "mon_sales" "mon_sales2"
   , "tue_sales" "tue_sales2"
   , "wed_sales" "wed_sales2"
   , "thu_sales" "thu_sales2"
   , "fri_sales" "fri_sales2"
   , "sat_sales" "sat_sales2"
   FROM
     wswscs
   , date_dim
   WHERE ("date_dim"."d_week_seq" = "wswscs"."d_week_seq")
      AND ("d_year" = (2001 + 1))
)  z
WHERE ("d_week_seq1" = ("d_week_seq2" - 53))
ORDER BY "d_week_seq1" ASC
"""

_add("q02", _TEXT_Q02, "TPC-DS q02: week-seq pivot of web+catalog sales into day-of-week columns, year-over-year self-join at a 53-week offset (vendored: testing/trino-benchmark-queries/.../tpcds/q02.sql).")


_TEXT_Q03 = r"""
SELECT
  "dt"."d_year"
, "item"."i_brand_id" "brand_id"
, "item"."i_brand" "brand"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "sum_agg"
FROM
  date_dim dt
, store_sales
, item
WHERE ("dt"."d_date_sk" = "store_sales"."ss_sold_date_sk")
   AND ("store_sales"."ss_item_sk" = "item"."i_item_sk")
   AND ("item"."i_manufact_id" = 128)
   AND ("dt"."d_moy" = 11)
GROUP BY "dt"."d_year", "item"."i_brand", "item"."i_brand_id"
ORDER BY "dt"."d_year" ASC, "sum_agg" DESC, "brand_id" ASC
LIMIT 100
"""

_add("q03", _TEXT_Q03, "TPC-DS q03: brand revenue by year for one manufacturer, November sales (vendored: testing/trino-benchmark-queries/.../tpcds/q03.sql).")


_TEXT_Q04 = r"""
WITH
  year_total AS (
   SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "c_preferred_cust_flag" "customer_preferred_cust_flag"
   , "c_birth_country" "customer_birth_country"
   , "c_login" "customer_login"
   , "c_email_address" "customer_email_address"
   , "d_year" "dyear"
   , CAST("sum"((((("ss_ext_list_price" - "ss_ext_wholesale_cost") - "ss_ext_discount_amt") + "ss_ext_sales_price") / 2)) AS DOUBLE) "year_total"
   , 's' "sale_type"
   FROM
     customer
   , store_sales
   , date_dim
   WHERE ("c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "c_preferred_cust_flag", "c_birth_country", "c_login", "c_email_address", "d_year"
UNION ALL    SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "c_preferred_cust_flag" "customer_preferred_cust_flag"
   , "c_birth_country" "customer_birth_country"
   , "c_login" "customer_login"
   , "c_email_address" "customer_email_address"
   , "d_year" "dyear"
   , CAST("sum"((((("cs_ext_list_price" - "cs_ext_wholesale_cost") - "cs_ext_discount_amt") + "cs_ext_sales_price") / 2)) AS DOUBLE) "year_total"
   , 'c' "sale_type"
   FROM
     customer
   , catalog_sales
   , date_dim
   WHERE ("c_customer_sk" = "cs_bill_customer_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "c_preferred_cust_flag", "c_birth_country", "c_login", "c_email_address", "d_year"
UNION ALL    SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "c_preferred_cust_flag" "customer_preferred_cust_flag"
   , "c_birth_country" "customer_birth_country"
   , "c_login" "customer_login"
   , "c_email_address" "customer_email_address"
   , "d_year" "dyear"
   , CAST("sum"((((("ws_ext_list_price" - "ws_ext_wholesale_cost") - "ws_ext_discount_amt") + "ws_ext_sales_price") / 2)) AS DOUBLE) "year_total"
   , 'w' "sale_type"
   FROM
     customer
   , web_sales
   , date_dim
   WHERE ("c_customer_sk" = "ws_bill_customer_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "c_preferred_cust_flag", "c_birth_country", "c_login", "c_email_address", "d_year"
) 
SELECT
  "t_s_secyear"."customer_id"
, "t_s_secyear"."customer_first_name"
, "t_s_secyear"."customer_last_name"
, "t_s_secyear"."customer_preferred_cust_flag"
FROM
  year_total t_s_firstyear
, year_total t_s_secyear
, year_total t_c_firstyear
, year_total t_c_secyear
, year_total t_w_firstyear
, year_total t_w_secyear
WHERE ("t_s_secyear"."customer_id" = "t_s_firstyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_c_secyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_c_firstyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_firstyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_secyear"."customer_id")
   AND ("t_s_firstyear"."sale_type" = 's')
   AND ("t_c_firstyear"."sale_type" = 'c')
   AND ("t_w_firstyear"."sale_type" = 'w')
   AND ("t_s_secyear"."sale_type" = 's')
   AND ("t_c_secyear"."sale_type" = 'c')
   AND ("t_w_secyear"."sale_type" = 'w')
   AND ("t_s_firstyear"."dyear" = 2001)
   AND ("t_s_secyear"."dyear" = (2001 + 1))
   AND ("t_c_firstyear"."dyear" = 2001)
   AND ("t_c_secyear"."dyear" = (2001 + 1))
   AND ("t_w_firstyear"."dyear" = 2001)
   AND ("t_w_secyear"."dyear" = (2001 + 1))
   AND ("t_s_firstyear"."year_total" > 0)
   AND ("t_c_firstyear"."year_total" > 0)
   AND ("t_w_firstyear"."year_total" > 0)
   AND ((CASE WHEN ("t_c_firstyear"."year_total" > 0) THEN ("t_c_secyear"."year_total" / "t_c_firstyear"."year_total") ELSE null END) > (CASE WHEN ("t_s_firstyear"."year_total" > 0) THEN ("t_s_secyear"."year_total" / "t_s_firstyear"."year_total") ELSE null END))
   AND ((CASE WHEN ("t_c_firstyear"."year_total" > 0) THEN ("t_c_secyear"."year_total" / "t_c_firstyear"."year_total") ELSE null END) > (CASE WHEN ("t_w_firstyear"."year_total" > 0) THEN ("t_w_secyear"."year_total" / "t_w_firstyear"."year_total") ELSE null END))
ORDER BY "t_s_secyear"."customer_id" ASC, "t_s_secyear"."customer_first_name" ASC, "t_s_secyear"."customer_last_name" ASC, "t_s_secyear"."customer_preferred_cust_flag" ASC
LIMIT 100
"""

_add("q04", _TEXT_Q04, "TPC-DS q04: 3-channel year-over-year customer growth: 6 self-joins of a UNION-ALL year_total CTE (vendored: testing/trino-benchmark-queries/.../tpcds/q04.sql).")


_TEXT_Q05 = r"""
WITH
  ssr AS (
   SELECT
     "s_store_id"
   , "sum"("sales_price") "sales"
   , CAST("sum"("profit") AS DOUBLE) "profit"
   , "sum"("return_amt") "returns"
   , "sum"("net_loss") "profit_loss"
   FROM
     (
      SELECT
        "ss_store_sk" "store_sk"
      , "ss_sold_date_sk" "date_sk"
      , "ss_ext_sales_price" "sales_price"
      , "ss_net_profit" "profit"
      , CAST(0 AS DECIMAL(7,2)) "return_amt"
      , CAST(0 AS DECIMAL(7,2)) "net_loss"
      FROM
        store_sales
UNION ALL       SELECT
        "sr_store_sk" "store_sk"
      , "sr_returned_date_sk" "date_sk"
      , CAST(0 AS DECIMAL(7,2)) "sales_price"
      , CAST(0 AS DECIMAL(7,2)) "profit"
      , "sr_return_amt" "return_amt"
      , "sr_net_loss" "net_loss"
      FROM
        store_returns
   )  salesreturns
   , date_dim
   , store
   WHERE ("date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '14' DAY))
      AND ("store_sk" = "s_store_sk")
   GROUP BY "s_store_id"
) 
, csr AS (
   SELECT
     "cp_catalog_page_id"
   , "sum"("sales_price") "sales"
   , "sum"("profit") "profit"
   , "sum"("return_amt") "returns"
   , "sum"("net_loss") "profit_loss"
   FROM
     (
      SELECT
        "cs_catalog_page_sk" "page_sk"
      , "cs_sold_date_sk" "date_sk"
      , "cs_ext_sales_price" "sales_price"
      , "cs_net_profit" "profit"
      , CAST(0 AS DECIMAL(7,2)) "return_amt"
      , CAST(0 AS DECIMAL(7,2)) "net_loss"
      FROM
        catalog_sales
UNION ALL       SELECT
        "cr_catalog_page_sk" "page_sk"
      , "cr_returned_date_sk" "date_sk"
      , CAST(0 AS DECIMAL(7,2)) "sales_price"
      , CAST(0 AS DECIMAL(7,2)) "profit"
      , "cr_return_amount" "return_amt"
      , "cr_net_loss" "net_loss"
      FROM
        catalog_returns
   )  salesreturns
   , date_dim
   , catalog_page
   WHERE ("date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '14' DAY))
      AND ("page_sk" = "cp_catalog_page_sk")
   GROUP BY "cp_catalog_page_id"
) 
, wsr AS (
   SELECT
     "web_site_id"
   , "sum"("sales_price") "sales"
   , "sum"("profit") "profit"
   , "sum"("return_amt") "returns"
   , "sum"("net_loss") "profit_loss"
   FROM
     (
      SELECT
        "ws_web_site_sk" "wsr_web_site_sk"
      , "ws_sold_date_sk" "date_sk"
      , "ws_ext_sales_price" "sales_price"
      , "ws_net_profit" "profit"
      , CAST(0 AS DECIMAL(7,2)) "return_amt"
      , CAST(0 AS DECIMAL(7,2)) "net_loss"
      FROM
        web_sales
UNION ALL       SELECT
        "ws_web_site_sk" "wsr_web_site_sk"
      , "wr_returned_date_sk" "date_sk"
      , CAST(0 AS DECIMAL(7,2)) "sales_price"
      , CAST(0 AS DECIMAL(7,2)) "profit"
      , "wr_return_amt" "return_amt"
      , "wr_net_loss" "net_loss"
      FROM
        (web_returns
      LEFT JOIN web_sales ON ("wr_item_sk" = "ws_item_sk")
         AND ("wr_order_number" = "ws_order_number"))
   )  salesreturns
   , date_dim
   , web_site
   WHERE ("date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '14' DAY))
      AND ("wsr_web_site_sk" = "web_site_sk")
   GROUP BY "web_site_id"
) 
SELECT
  "channel"
, "id"
, CAST("sum"("sales") AS DOUBLE) "sales"
, CAST("sum"("returns") AS DOUBLE) "returns"
, "sum"("profit") "profit"
FROM
  (
   SELECT
     'store channel' "channel"
   , "concat"('store', "s_store_id") "id"
   , "sales"
   , "returns"
   , ("profit" - "profit_loss") "profit"
   FROM
     ssr
UNION ALL    SELECT
     'catalog channel' "channel"
   , "concat"('catalog_page', "cp_catalog_page_id") "id"
   , "sales"
   , "returns"
   , ("profit" - "profit_loss") "profit"
   FROM
     csr
UNION ALL    SELECT
     'web channel' "channel"
   , "concat"('web_site', "web_site_id") "id"
   , "sales"
   , "returns"
   , ("profit" - "profit_loss") "profit"
   FROM
     wsr
)  x
GROUP BY ROLLUP (channel, id)
ORDER BY "channel" ASC NULLS FIRST, "id" ASC NULLS FIRST
LIMIT 100
"""

_add("q05", _TEXT_Q05, "TPC-DS q05: 14-day channel report: sales+returns unions per store/catalog-page/web-site, ROLLUP (vendored: testing/trino-benchmark-queries/.../tpcds/q05.sql).")


_TEXT_Q06 = r"""
SELECT
  "a"."ca_state" "STATE"
, "count"(*) "cnt"
FROM
  customer_address a
, customer c
, store_sales s
, date_dim d
, item i
WHERE ("a"."ca_address_sk" = "c"."c_current_addr_sk")
   AND ("c"."c_customer_sk" = "s"."ss_customer_sk")
   AND ("s"."ss_sold_date_sk" = "d"."d_date_sk")
   AND ("s"."ss_item_sk" = "i"."i_item_sk")
   AND ("d"."d_month_seq" = (
      SELECT DISTINCT "d_month_seq"
      FROM
        date_dim
      WHERE ("d_year" = 2001)
         AND ("d_moy" = 1)
   ))
   AND ("i"."i_current_price" > (DECIMAL '1.2' * (
         SELECT "avg"("j"."i_current_price")
         FROM
           item j
         WHERE ("j"."i_category" = "i"."i_category")
      )))
GROUP BY "a"."ca_state"
HAVING ("count"(*) >= 10)
ORDER BY "cnt" ASC, "a"."ca_state" ASC
LIMIT 100
"""

_add("q06", _TEXT_Q06, "TPC-DS q06: state rollup of customers buying items priced 20% above their category average (two nested scalar subqueries) (vendored: testing/trino-benchmark-queries/.../tpcds/q06.sql).")


_TEXT_Q07 = r"""
SELECT
  "i_item_id"
, "avg"("ss_quantity") "agg1"
, (floor((2 * CAST(("sum"("ss_list_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg2"
, (floor((2 * CAST(("sum"("ss_coupon_amt")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg3"
, (floor((2 * CAST(("sum"("ss_sales_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg4"
FROM
  store_sales
, customer_demographics
, date_dim
, item
, promotion
WHERE ("ss_sold_date_sk" = "d_date_sk")
   AND ("ss_item_sk" = "i_item_sk")
   AND ("ss_cdemo_sk" = "cd_demo_sk")
   AND ("ss_promo_sk" = "p_promo_sk")
   AND ("cd_gender" = 'M')
   AND ("cd_marital_status" = 'S')
   AND ("cd_education_status" = 'College')
   AND (("p_channel_email" = 'N')
      OR ("p_channel_event" = 'N'))
   AND ("d_year" = 2000)
GROUP BY "i_item_id"
ORDER BY "i_item_id" ASC
LIMIT 100
"""

_add("q07", _TEXT_Q07, "TPC-DS q07: demographic-sliced item averages (4-way dim join: demographics, promotion, date, item) (vendored: testing/trino-benchmark-queries/.../tpcds/q07.sql).")


_TEXT_Q08 = r"""
SELECT
  "s_store_name"
, CAST("sum"("ss_net_profit") AS DOUBLE) "net_profit"
FROM
  store_sales
, date_dim
, store
, (
   SELECT "ca_zip"
   FROM
     (
(
         SELECT "substr"("ca_zip", 1, 5) "ca_zip"
         FROM
           customer_address
         WHERE ("substr"("ca_zip", 1, 5) IN (
                '24128'
              , '57834'
              , '13354'
              , '15734'
              , '78668'
              , '76232'
              , '62878'
              , '45375'
              , '63435'
              , '22245'
              , '65084'
              , '49130'
              , '40558'
              , '25733'
              , '15798'
              , '87816'
              , '81096'
              , '56458'
              , '35474'
              , '27156'
              , '83926'
              , '18840'
              , '28286'
              , '24676'
              , '37930'
              , '77556'
              , '27700'
              , '45266'
              , '94627'
              , '62971'
              , '20548'
              , '23470'
              , '47305'
              , '53535'
              , '21337'
              , '26231'
              , '50412'
              , '69399'
              , '17879'
              , '51622'
              , '43848'
              , '21195'
              , '83921'
              , '15559'
              , '67853'
              , '15126'
              , '16021'
              , '26233'
              , '53268'
              , '10567'
              , '91137'
              , '76107'
              , '11101'
              , '59166'
              , '38415'
              , '61265'
              , '71954'
              , '15371'
              , '11928'
              , '15455'
              , '98294'
              , '68309'
              , '69913'
              , '59402'
              , '58263'
              , '25782'
              , '18119'
              , '35942'
              , '33282'
              , '42029'
              , '17920'
              , '98359'
              , '15882'
              , '45721'
              , '60279'
              , '18426'
              , '64544'
              , '25631'
              , '43933'
              , '37125'
              , '98235'
              , '10336'
              , '24610'
              , '68101'
              , '56240'
              , '40081'
              , '86379'
              , '44165'
              , '33515'
              , '88190'
              , '84093'
              , '27068'
              , '99076'
              , '36634'
              , '50308'
              , '28577'
              , '39736'
              , '33786'
              , '71286'
              , '26859'
              , '55565'
              , '98569'
              , '70738'
              , '19736'
              , '64457'
              , '17183'
              , '28915'
              , '26653'
              , '58058'
              , '89091'
              , '54601'
              , '24206'
              , '14328'
              , '55253'
              , '82136'
              , '67897'
              , '56529'
              , '72305'
              , '67473'
              , '62377'
              , '22752'
              , '57647'
              , '62496'
              , '41918'
              , '36233'
              , '86284'
              , '54917'
              , '22152'
              , '19515'
              , '63837'
              , '18376'
              , '42961'
              , '10144'
              , '36495'
              , '58078'
              , '38607'
              , '91110'
              , '64147'
              , '19430'
              , '17043'
              , '45200'
              , '63981'
              , '48425'
              , '22351'
              , '30010'
              , '21756'
              , '14922'
              , '14663'
              , '77191'
              , '60099'
              , '29741'
              , '36420'
              , '21076'
              , '91393'
              , '28810'
              , '96765'
              , '23006'
              , '18799'
              , '49156'
              , '98025'
              , '23932'
              , '67467'
              , '30450'
              , '50298'
              , '29178'
              , '89360'
              , '32754'
              , '63089'
              , '87501'
              , '87343'
              , '29839'
              , '30903'
              , '81019'
              , '18652'
              , '73273'
              , '25989'
              , '20260'
              , '68893'
              , '53179'
              , '30469'
              , '28898'
              , '31671'
              , '24996'
              , '18767'
              , '64034'
              , '91068'
              , '51798'
              , '51200'
              , '63193'
              , '39516'
              , '72550'
              , '72325'
              , '51211'
              , '23968'
              , '86057'
              , '10390'
              , '85816'
              , '45692'
              , '65164'
              , '21309'
              , '18845'
              , '68621'
              , '92712'
              , '68880'
              , '90257'
              , '47770'
              , '13955'
              , '70466'
              , '21286'
              , '67875'
              , '82636'
              , '36446'
              , '79994'
              , '72823'
              , '40162'
              , '41367'
              , '41766'
              , '22437'
              , '58470'
              , '11356'
              , '76638'
              , '68806'
              , '25280'
              , '67301'
              , '73650'
              , '86198'
              , '16725'
              , '38935'
              , '13394'
              , '61810'
              , '81312'
              , '15146'
              , '71791'
              , '31016'
              , '72013'
              , '37126'
              , '22744'
              , '73134'
              , '70372'
              , '30431'
              , '39192'
              , '35850'
              , '56571'
              , '67030'
              , '22461'
              , '88424'
              , '88086'
              , '14060'
              , '40604'
              , '19512'
              , '72175'
              , '51649'
              , '19505'
              , '24317'
              , '13375'
              , '81426'
              , '18270'
              , '72425'
              , '45748'
              , '55307'
              , '53672'
              , '52867'
              , '56575'
              , '39127'
              , '30625'
              , '10445'
              , '39972'
              , '74351'
              , '26065'
              , '83849'
              , '42666'
              , '96976'
              , '68786'
              , '77721'
              , '68908'
              , '66864'
              , '63792'
              , '51650'
              , '31029'
              , '26689'
              , '66708'
              , '11376'
              , '20004'
              , '31880'
              , '96451'
              , '41248'
              , '94898'
              , '18383'
              , '60576'
              , '38193'
              , '48583'
              , '13595'
              , '76614'
              , '24671'
              , '46820'
              , '82276'
              , '10516'
              , '11634'
              , '45549'
              , '88885'
              , '18842'
              , '90225'
              , '18906'
              , '13376'
              , '84935'
              , '78890'
              , '58943'
              , '15765'
              , '50016'
              , '69035'
              , '49448'
              , '39371'
              , '41368'
              , '33123'
              , '83144'
              , '14089'
              , '94945'
              , '73241'
              , '19769'
              , '47537'
              , '38122'
              , '28587'
              , '76698'
              , '22927'
              , '56616'
              , '34425'
              , '96576'
              , '78567'
              , '97789'
              , '94983'
              , '79077'
              , '57855'
              , '97189'
              , '46081'
              , '48033'
              , '19849'
              , '28488'
              , '28545'
              , '72151'
              , '69952'
              , '43285'
              , '26105'
              , '76231'
              , '15723'
              , '25486'
              , '39861'
              , '83933'
              , '75691'
              , '46136'
              , '61547'
              , '66162'
              , '25858'
              , '22246'
              , '51949'
              , '27385'
              , '77610'
              , '34322'
              , '51061'
              , '68100'
              , '61860'
              , '13695'
              , '44438'
              , '90578'
              , '96888'
              , '58048'
              , '99543'
              , '73171'
              , '56691'
              , '64528'
              , '56910'
              , '83444'
              , '30122'
              , '68014'
              , '14171'
              , '16807'
              , '83041'
              , '34102'
              , '51103'
              , '79777'
              , '17871'
              , '12305'
              , '22685'
              , '94167'
              , '28709'
              , '35258'
              , '57665'
              , '71256'
              , '57047'
              , '11489'
              , '31387'
              , '68341'
              , '78451'
              , '14867'
              , '25103'
              , '35458'
              , '25003'
              , '54364'
              , '73520'
              , '32213'
              , '35576'))
      )       INTERSECT (
         SELECT "ca_zip"
         FROM
           (
            SELECT
              "substr"("ca_zip", 1, 5) "ca_zip"
            , "count"(*) "cnt"
            FROM
              customer_address
            , customer
            WHERE ("ca_address_sk" = "c_current_addr_sk")
               AND ("c_preferred_cust_flag" = 'Y')
            GROUP BY "ca_zip"
            HAVING ("count"(*) > 10)
         )  a1
      )    )  a2
)  v1
WHERE ("ss_store_sk" = "s_store_sk")
   AND ("ss_sold_date_sk" = "d_date_sk")
   AND ("d_qoy" = 2)
   AND ("d_year" = 1998)
   AND ("substr"("s_zip", 1, 2) = "substr"("v1"."ca_zip", 1, 2))
GROUP BY "s_store_name"
ORDER BY "s_store_name" ASC
LIMIT 100
"""

_add("q08", _TEXT_Q08, "TPC-DS q08: store net profit restricted to zip prefixes from a 400-literal IN list INTERSECT preferred-customer zips (vendored: testing/trino-benchmark-queries/.../tpcds/q08.sql).")


_TEXT_Q09 = r"""
SELECT
  (CASE WHEN ((
      SELECT "count"(*)
      FROM
        store_sales
      WHERE ("ss_quantity" BETWEEN 1 AND 20)
   ) > 74129) THEN (
   SELECT floor((2 * CAST("sum"("ss_ext_discount_amt") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 1 AND 20)
) ELSE (
   SELECT floor((2 * CAST("sum"("ss_net_paid") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 1 AND 20)
) END) "bucket1"
, (CASE WHEN ((
      SELECT "count"(*)
      FROM
        store_sales
      WHERE ("ss_quantity" BETWEEN 21 AND 40)
   ) > 122840) THEN (
   SELECT floor((2 * CAST("sum"("ss_ext_discount_amt") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 21 AND 40)
) ELSE (
   SELECT floor((2 * CAST("sum"("ss_net_paid") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 21 AND 40)
) END) "bucket2"
, (CASE WHEN ((
      SELECT "count"(*)
      FROM
        store_sales
      WHERE ("ss_quantity" BETWEEN 41 AND 60)
   ) > 56580) THEN (
   SELECT floor((2 * CAST("sum"("ss_ext_discount_amt") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 41 AND 60)
) ELSE (
   SELECT floor((2 * CAST("sum"("ss_net_paid") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 41 AND 60)
) END) "bucket3"
, (CASE WHEN ((
      SELECT "count"(*)
      FROM
        store_sales
      WHERE ("ss_quantity" BETWEEN 61 AND 80)
   ) > 10097) THEN (
   SELECT floor((2 * CAST("sum"("ss_ext_discount_amt") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 61 AND 80)
) ELSE (
   SELECT floor((2 * CAST("sum"("ss_net_paid") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 61 AND 80)
) END) "bucket4"
, (CASE WHEN ((
      SELECT "count"(*)
      FROM
        store_sales
      WHERE ("ss_quantity" BETWEEN 81 AND 100)
   ) > 165306) THEN (
   SELECT floor((2 * CAST("sum"("ss_ext_discount_amt") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 81 AND 100)
) ELSE (
   SELECT floor((2 * CAST("sum"("ss_net_paid") * 1000 AS BIGINT) + "count"(*)) / (2e0 * "count"(*))) / 1e3
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 81 AND 100)
) END) "bucket5"
FROM
  reason
WHERE ("r_reason_sk" = 1)
"""

_add("q09", _TEXT_Q09, "TPC-DS q09: five quantity-bucket averages, each chosen by a threshold CASE over its own COUNT subquery (15 scalar subqueries) (vendored: testing/trino-benchmark-queries/.../tpcds/q09.sql).")


_TEXT_Q10 = r"""
SELECT
  "cd_gender"
, "cd_marital_status"
, "cd_education_status"
, "count"(*) "cnt1"
, "cd_purchase_estimate"
, "count"(*) "cnt2"
, "cd_credit_rating"
, "count"(*) "cnt3"
, "cd_dep_count"
, "count"(*) "cnt4"
, "cd_dep_employed_count"
, "count"(*) "cnt5"
, "cd_dep_college_count"
, "count"(*) "cnt6"
FROM
  customer c
, customer_address ca
, customer_demographics
WHERE ("c"."c_current_addr_sk" = "ca"."ca_address_sk")
   AND ("ca_county" IN ('Rush County', 'Toole County', 'Jefferson County', 'Dona Ana County', 'La Porte County'))
   AND ("cd_demo_sk" = "c"."c_current_cdemo_sk")
   AND (EXISTS (
   SELECT *
   FROM
     store_sales
   , date_dim
   WHERE ("c"."c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2002)
      AND ("d_moy" BETWEEN 1 AND (1 + 3))
))
   AND ((EXISTS (
      SELECT *
      FROM
        web_sales
      , date_dim
      WHERE ("c"."c_customer_sk" = "ws_bill_customer_sk")
         AND ("ws_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2002)
         AND ("d_moy" BETWEEN 1 AND (1 + 3))
   ))
      OR (EXISTS (
      SELECT *
      FROM
        catalog_sales
      , date_dim
      WHERE ("c"."c_customer_sk" = "cs_ship_customer_sk")
         AND ("cs_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2002)
         AND ("d_moy" BETWEEN 1 AND (1 + 3))
   )))
GROUP BY "cd_gender", "cd_marital_status", "cd_education_status", "cd_purchase_estimate", "cd_credit_rating", "cd_dep_count", "cd_dep_employed_count", "cd_dep_college_count"
ORDER BY "cd_gender" ASC, "cd_marital_status" ASC, "cd_education_status" ASC, "cd_purchase_estimate" ASC, "cd_credit_rating" ASC, "cd_dep_count" ASC, "cd_dep_employed_count" ASC, "cd_dep_college_count" ASC
LIMIT 100
"""

_add("q10", _TEXT_Q10, "TPC-DS q10: county customers active in store AND (web OR catalog): EXISTS probes x demographic profile counts (vendored: testing/trino-benchmark-queries/.../tpcds/q10.sql).")


_TEXT_Q11 = r"""
WITH
  year_total AS (
   SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "c_preferred_cust_flag" "customer_preferred_cust_flag"
   , "c_birth_country" "customer_birth_country"
   , "c_login" "customer_login"
   , "c_email_address" "customer_email_address"
   , "d_year" "dyear"
   , CAST("sum"(("ss_ext_list_price" - "ss_ext_discount_amt")) AS DOUBLE) "year_total"
   , 's' "sale_type"
   FROM
     customer
   , store_sales
   , date_dim
   WHERE ("c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "c_preferred_cust_flag", "c_birth_country", "c_login", "c_email_address", "d_year"
UNION ALL    SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "c_preferred_cust_flag" "customer_preferred_cust_flag"
   , "c_birth_country" "customer_birth_country"
   , "c_login" "customer_login"
   , "c_email_address" "customer_email_address"
   , "d_year" "dyear"
   , CAST("sum"(("ws_ext_list_price" - "ws_ext_discount_amt")) AS DOUBLE) "year_total"
   , 'w' "sale_type"
   FROM
     customer
   , web_sales
   , date_dim
   WHERE ("c_customer_sk" = "ws_bill_customer_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "c_preferred_cust_flag", "c_birth_country", "c_login", "c_email_address", "d_year"
) 
SELECT
  "t_s_secyear"."customer_id"
, "t_s_secyear"."customer_first_name"
, "t_s_secyear"."customer_last_name"
, "t_s_secyear"."customer_preferred_cust_flag"
, "t_s_secyear"."customer_birth_country"
, "t_s_secyear"."customer_login"
FROM
  year_total t_s_firstyear
, year_total t_s_secyear
, year_total t_w_firstyear
, year_total t_w_secyear
WHERE ("t_s_secyear"."customer_id" = "t_s_firstyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_secyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_firstyear"."customer_id")
   AND ("t_s_firstyear"."sale_type" = 's')
   AND ("t_w_firstyear"."sale_type" = 'w')
   AND ("t_s_secyear"."sale_type" = 's')
   AND ("t_w_secyear"."sale_type" = 'w')
   AND ("t_s_firstyear"."dyear" = 2001)
   AND ("t_s_secyear"."dyear" = (2001 + 1))
   AND ("t_w_firstyear"."dyear" = 2001)
   AND ("t_w_secyear"."dyear" = (2001 + 1))
   AND ("t_s_firstyear"."year_total" > 0)
   AND ("t_w_firstyear"."year_total" > 0)
   AND ((CASE WHEN ("t_w_firstyear"."year_total" > 0) THEN ("t_w_secyear"."year_total" / "t_w_firstyear"."year_total") ELSE DECIMAL '0.0' END) > (CASE WHEN ("t_s_firstyear"."year_total" > 0) THEN ("t_s_secyear"."year_total" / "t_s_firstyear"."year_total") ELSE DECIMAL '0.0' END))
ORDER BY "t_s_secyear"."customer_id" ASC, "t_s_secyear"."customer_first_name" ASC, "t_s_secyear"."customer_last_name" ASC, "t_s_secyear"."customer_preferred_cust_flag" ASC
LIMIT 100
"""

_add("q11", _TEXT_Q11, "TPC-DS q11: store-vs-web customer growth ratio: 4 self-joins of a 2-channel year_total CTE (vendored: testing/trino-benchmark-queries/.../tpcds/q11.sql).")


_TEXT_Q12 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "i_category"
, "i_class"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
, CAST("sum"("ws_ext_sales_price") AS DOUBLE) "itemrevenue"
, (floor((((CAST("sum"("ws_ext_sales_price") AS DOUBLE) * 100) / CAST("sum"("sum"("ws_ext_sales_price")) OVER (PARTITION BY "i_class") AS DOUBLE))) * 1000000 + 0.5) / 1e6) "revenueratio"
FROM
  web_sales
, item
, date_dim
WHERE ("ws_item_sk" = "i_item_sk")
   AND ("i_category" IN ('Sports', 'Books', 'Home'))
   AND ("ws_sold_date_sk" = "d_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN CAST('1999-02-22' AS DATE) AND (CAST('1999-02-22' AS DATE) + INTERVAL  '30' DAY))
GROUP BY "i_item_id", "i_item_desc", "i_category", "i_class", "i_current_price"
ORDER BY "i_category" ASC, "i_class" ASC, "i_item_id" ASC, "i_item_desc" ASC, "revenueratio" ASC
LIMIT 100
"""

_add("q12", _TEXT_Q12, "TPC-DS q12: web-channel item revenue + intra-class ratio (q98's shape on web_sales) (vendored: testing/trino-benchmark-queries/.../tpcds/q12.sql).")


_TEXT_Q13 = r"""
SELECT
  (floor((CAST("avg"("ss_quantity") AS DOUBLE)) * 1000 + 0.5) / 1e3) "avg_qty"
, (floor((2 * CAST(("sum"("ss_ext_sales_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "avg_esp"
, (floor((2 * CAST(("sum"("ss_ext_wholesale_cost")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "avg_wcost"
, CAST("sum"("ss_ext_wholesale_cost") AS DOUBLE) "sum_wcost"
FROM
  store_sales
, store
, customer_demographics
, household_demographics
, customer_address
, date_dim
WHERE ("s_store_sk" = "ss_store_sk")
   AND ("ss_sold_date_sk" = "d_date_sk")
   AND ("d_year" = 2001)
   AND ((("ss_hdemo_sk" = "hd_demo_sk")
         AND ("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'M')
         AND ("cd_education_status" = 'Advanced Degree')
         AND ("ss_sales_price" BETWEEN DECIMAL '100.00' AND DECIMAL '150.00')
         AND ("hd_dep_count" = 3))
      OR (("ss_hdemo_sk" = "hd_demo_sk")
         AND ("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'S')
         AND ("cd_education_status" = 'College')
         AND ("ss_sales_price" BETWEEN DECIMAL '50.00' AND DECIMAL '100.00')
         AND ("hd_dep_count" = 1))
      OR (("ss_hdemo_sk" = "hd_demo_sk")
         AND ("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'W')
         AND ("cd_education_status" = '2 yr Degree')
         AND ("ss_sales_price" BETWEEN DECIMAL '150.00' AND DECIMAL '200.00')
         AND ("hd_dep_count" = 1)))
   AND ((("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('TX'      , 'OH'      , 'TX'))
         AND ("ss_net_profit" BETWEEN 100 AND 200))
      OR (("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('OR'      , 'NM'      , 'KY'))
         AND ("ss_net_profit" BETWEEN 150 AND 300))
      OR (("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('VA'      , 'TX'      , 'MS'))
         AND ("ss_net_profit" BETWEEN 50 AND 250)))
"""

_add("q13", _TEXT_Q13, "TPC-DS q13: disjunctive demographic x address x price-band triples (heavy OR-of-AND predicate blocks) (vendored: testing/trino-benchmark-queries/.../tpcds/q13.sql).")


_TEXT_Q14A = r"""
WITH
  cross_items AS (
   SELECT "i_item_sk" "ss_item_sk"
   FROM
     item
   , (
      SELECT
        "iss"."i_brand_id" "brand_id"
      , "iss"."i_class_id" "class_id"
      , "iss"."i_category_id" "category_id"
      FROM
        store_sales
      , item iss
      , date_dim d1
      WHERE ("ss_item_sk" = "iss"."i_item_sk")
         AND ("ss_sold_date_sk" = "d1"."d_date_sk")
         AND ("d1"."d_year" BETWEEN 1999 AND (1999 + 2))
INTERSECT       SELECT
        "ics"."i_brand_id"
      , "ics"."i_class_id"
      , "ics"."i_category_id"
      FROM
        catalog_sales
      , item ics
      , date_dim d2
      WHERE ("cs_item_sk" = "ics"."i_item_sk")
         AND ("cs_sold_date_sk" = "d2"."d_date_sk")
         AND ("d2"."d_year" BETWEEN 1999 AND (1999 + 2))
INTERSECT       SELECT
        "iws"."i_brand_id"
      , "iws"."i_class_id"
      , "iws"."i_category_id"
      FROM
        web_sales
      , item iws
      , date_dim d3
      WHERE ("ws_item_sk" = "iws"."i_item_sk")
         AND ("ws_sold_date_sk" = "d3"."d_date_sk")
         AND ("d3"."d_year" BETWEEN 1999 AND (1999 + 2))
   ) 
   WHERE ("i_brand_id" = "brand_id")
      AND ("i_class_id" = "class_id")
      AND ("i_category_id" = "category_id")
) 
, avg_sales AS (
   SELECT (CAST("sum"(("quantity" * "list_price")) AS DOUBLE) / "count"(*)) "average_sales"
   FROM
     (
      SELECT
        "ss_quantity" "quantity"
      , "ss_list_price" "list_price"
      FROM
        store_sales
      , date_dim
      WHERE ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
UNION ALL       SELECT
        "cs_quantity" "quantity"
      , "cs_list_price" "list_price"
      FROM
        catalog_sales
      , date_dim
      WHERE ("cs_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
UNION ALL       SELECT
        "ws_quantity" "quantity"
      , "ws_list_price" "list_price"
      FROM
        web_sales
      , date_dim
      WHERE ("ws_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
   )  x
) 
SELECT
  "channel"
, "i_brand_id"
, "i_class_id"
, "i_category_id"
, CAST("sum"("sales") AS DOUBLE) "sum_sales"
, CAST("sum"("number_sales") AS BIGINT) "number_sales"
FROM
  (
   SELECT
     'store' "channel"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , "sum"(("ss_quantity" * "ss_list_price")) "sales"
   , "count"(*) "number_sales"
   FROM
     store_sales
   , item
   , date_dim
   WHERE ("ss_item_sk" IN (
      SELECT "ss_item_sk"
      FROM
        cross_items
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = (1999 + 2))
      AND ("d_moy" = 11)
   GROUP BY "i_brand_id", "i_class_id", "i_category_id"
   HAVING ("sum"(("ss_quantity" * "ss_list_price")) > (
         SELECT "average_sales"
         FROM
           avg_sales
      ))
UNION ALL    SELECT
     'catalog' "channel"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , "sum"(("cs_quantity" * "cs_list_price")) "sales"
   , "count"(*) "number_sales"
   FROM
     catalog_sales
   , item
   , date_dim
   WHERE ("cs_item_sk" IN (
      SELECT "ss_item_sk"
      FROM
        cross_items
   ))
      AND ("cs_item_sk" = "i_item_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_year" = (1999 + 2))
      AND ("d_moy" = 11)
   GROUP BY "i_brand_id", "i_class_id", "i_category_id"
   HAVING ("sum"(("cs_quantity" * "cs_list_price")) > (
         SELECT "average_sales"
         FROM
           avg_sales
      ))
UNION ALL    SELECT
     'web' "channel"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , "sum"(("ws_quantity" * "ws_list_price")) "sales"
   , "count"(*) "number_sales"
   FROM
     web_sales
   , item
   , date_dim
   WHERE ("ws_item_sk" IN (
      SELECT "ss_item_sk"
      FROM
        cross_items
   ))
      AND ("ws_item_sk" = "i_item_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" = (1999 + 2))
      AND ("d_moy" = 11)
   GROUP BY "i_brand_id", "i_class_id", "i_category_id"
   HAVING ("sum"(("ws_quantity" * "ws_list_price")) > (
         SELECT "average_sales"
         FROM
           avg_sales
      ))
)  y
GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
ORDER BY "channel" ASC NULLS FIRST, "i_brand_id" ASC NULLS FIRST, "i_class_id" ASC NULLS FIRST, "i_category_id" ASC NULLS FIRST
LIMIT 100
"""

_add("q14a", _TEXT_Q14A, "TPC-DS q14a: cross-channel frequent items (3-way INTERSECT CTE) + average-sales threshold + channel ROLLUP (vendored: testing/trino-benchmark-queries/.../tpcds/q14a.sql).")


_TEXT_Q14B = r"""
WITH
  cross_items AS (
   SELECT "i_item_sk" "ss_item_sk"
   FROM
     item
   , (
      SELECT
        "iss"."i_brand_id" "brand_id"
      , "iss"."i_class_id" "class_id"
      , "iss"."i_category_id" "category_id"
      FROM
        store_sales
      , item iss
      , date_dim d1
      WHERE ("ss_item_sk" = "iss"."i_item_sk")
         AND ("ss_sold_date_sk" = "d1"."d_date_sk")
         AND ("d1"."d_year" BETWEEN 1999 AND (1999 + 2))
INTERSECT       SELECT
        "ics"."i_brand_id"
      , "ics"."i_class_id"
      , "ics"."i_category_id"
      FROM
        catalog_sales
      , item ics
      , date_dim d2
      WHERE ("cs_item_sk" = "ics"."i_item_sk")
         AND ("cs_sold_date_sk" = "d2"."d_date_sk")
         AND ("d2"."d_year" BETWEEN 1999 AND (1999 + 2))
INTERSECT       SELECT
        "iws"."i_brand_id"
      , "iws"."i_class_id"
      , "iws"."i_category_id"
      FROM
        web_sales
      , item iws
      , date_dim d3
      WHERE ("ws_item_sk" = "iws"."i_item_sk")
         AND ("ws_sold_date_sk" = "d3"."d_date_sk")
         AND ("d3"."d_year" BETWEEN 1999 AND (1999 + 2))
   )
   WHERE ("i_brand_id" = "brand_id")
      AND ("i_class_id" = "class_id")
      AND ("i_category_id" = "category_id")
)
, avg_sales AS (
   SELECT (CAST("sum"(("quantity" * "list_price")) AS DOUBLE) / "count"(*)) "average_sales"
   FROM
     (
      SELECT
        "ss_quantity" "quantity"
      , "ss_list_price" "list_price"
      FROM
        store_sales
      , date_dim
      WHERE ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
UNION ALL       SELECT
        "cs_quantity" "quantity"
      , "cs_list_price" "list_price"
      FROM
        catalog_sales
      , date_dim
      WHERE ("cs_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
UNION ALL       SELECT
        "ws_quantity" "quantity"
      , "ws_list_price" "list_price"
      FROM
        web_sales
      , date_dim
      WHERE ("ws_sold_date_sk" = "d_date_sk")
         AND ("d_year" BETWEEN 1999 AND (1999 + 2))
   )  x
)
SELECT
  "this_year"."channel" "ty_channel"
, "this_year"."i_brand_id" "ty_brand"
, "this_year"."i_class_id" "ty_class"
, "this_year"."i_category_id" "ty_category"
, "this_year"."sales" "ty_sales"
, "this_year"."number_sales" "ty_number_sales"
, "last_year"."channel" "ly_channel"
, "last_year"."i_brand_id" "ly_brand"
, "last_year"."i_class_id" "ly_class"
, "last_year"."i_category_id" "ly_category"
, "last_year"."sales" "ly_sales"
, "last_year"."number_sales" "ly_number_sales"
FROM
  (
   SELECT
     'store' "channel"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , CAST("sum"(("ss_quantity" * "ss_list_price")) AS DOUBLE) "sales"
   , "count"(*) "number_sales"
   FROM
     store_sales
   , item
   , date_dim
   WHERE ("ss_item_sk" IN (
      SELECT "ss_item_sk"
      FROM
        cross_items
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_week_seq" = (
         SELECT "d_week_seq"
         FROM
           date_dim
         WHERE ("d_year" = (1999 + 1))
            AND ("d_moy" = 12)
            AND ("d_dom" = 17)
      ))
   GROUP BY "i_brand_id", "i_class_id", "i_category_id"
   HAVING ("sum"(("ss_quantity" * "ss_list_price")) > (
         SELECT "average_sales"
         FROM
           avg_sales
      ))
)  this_year
, (
   SELECT
     'store' "channel"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , CAST("sum"(("ss_quantity" * "ss_list_price")) AS DOUBLE) "sales"
   , "count"(*) "number_sales"
   FROM
     store_sales
   , item
   , date_dim
   WHERE ("ss_item_sk" IN (
      SELECT "ss_item_sk"
      FROM
        cross_items
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_week_seq" = (
         SELECT "d_week_seq"
         FROM
           date_dim
         WHERE ("d_year" = 1999)
            AND ("d_moy" = 12)
            AND ("d_dom" = 17)
      ))
   GROUP BY "i_brand_id", "i_class_id", "i_category_id"
   HAVING ("sum"(("ss_quantity" * "ss_list_price")) > (
         SELECT "average_sales"
         FROM
           avg_sales
      ))
)  last_year
WHERE ("this_year"."i_brand_id" = "last_year"."i_brand_id")
   AND ("this_year"."i_class_id" = "last_year"."i_class_id")
   AND ("this_year"."i_category_id" = "last_year"."i_category_id")
ORDER BY "this_year"."channel" ASC, "this_year"."i_brand_id" ASC, "this_year"."i_class_id" ASC, "this_year"."i_category_id" ASC
LIMIT 100
"""

_add("q14b", _TEXT_Q14B, "TPC-DS q14b: q14a's cross-channel frequent items compared week-over-year (this_year x last_year join) (vendored: testing/trino-benchmark-queries/.../tpcds/q14b.sql).")


_TEXT_Q15 = r"""
SELECT
  "ca_zip"
, CAST("sum"("cs_sales_price") AS DOUBLE) "sum_price"
FROM
  catalog_sales
, customer
, customer_address
, date_dim
WHERE ("cs_bill_customer_sk" = "c_customer_sk")
   AND ("c_current_addr_sk" = "ca_address_sk")
   AND (("substr"("ca_zip", 1, 5) IN ('85669'   , '86197'   , '88274'   , '83405'   , '86475'   , '85392'   , '85460'   , '80348'   , '81792'))
      OR ("ca_state" IN ('CA'   , 'WA'   , 'GA'))
      OR ("cs_sales_price" > 500))
   AND ("cs_sold_date_sk" = "d_date_sk")
   AND ("d_qoy" = 2)
   AND ("d_year" = 2001)
GROUP BY "ca_zip"
ORDER BY "ca_zip" ASC
LIMIT 100
"""

_add("q15", _TEXT_Q15, "TPC-DS q15: catalog revenue by zip with OR of zip-list / state / price-floor reach conditions (vendored: testing/trino-benchmark-queries/.../tpcds/q15.sql).")


_TEXT_Q16 = r"""
SELECT
  "count"(DISTINCT "cs_order_number") "order count"
, CAST("sum"("cs_ext_ship_cost") AS DOUBLE) "total shipping cost"
, CAST("sum"("cs_net_profit") AS DOUBLE) "total net profit"
FROM
  catalog_sales cs1
, date_dim
, customer_address
, call_center
WHERE ("d_date" BETWEEN CAST('2002-2-01' AS DATE) AND (CAST('2002-2-01' AS DATE) + INTERVAL  '60' DAY))
   AND ("cs1"."cs_ship_date_sk" = "d_date_sk")
   AND ("cs1"."cs_ship_addr_sk" = "ca_address_sk")
   AND ("ca_state" = 'GA')
   AND ("cs1"."cs_call_center_sk" = "cc_call_center_sk")
   AND ("cc_county" IN ('Williamson County', 'Williamson County', 'Williamson County', 'Williamson County', 'Williamson County'))
   AND (EXISTS (
   SELECT *
   FROM
     catalog_sales cs2
   WHERE ("cs1"."cs_order_number" = "cs2"."cs_order_number")
      AND ("cs1"."cs_warehouse_sk" <> "cs2"."cs_warehouse_sk")
))
   AND (NOT (EXISTS (
   SELECT *
   FROM
     catalog_returns cr1
   WHERE ("cs1"."cs_order_number" = "cr1"."cr_order_number")
)))
ORDER BY "count"(DISTINCT "cs_order_number") ASC
LIMIT 100
"""

_add("q16", _TEXT_Q16, "TPC-DS q16: catalog orders shipped cross-warehouse with no returns (EXISTS + NOT EXISTS correlated probes) (vendored: testing/trino-benchmark-queries/.../tpcds/q16.sql).")


_TEXT_Q17 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "s_state"
, "count"("ss_quantity") "store_sales_quantitycount"
, (floor("avg"("ss_quantity") * 10000 + 0.5) / 1e4) "store_sales_quantityave"
, (floor("stddev_samp"("ss_quantity") * 10000 + 0.5) / 1e4) "store_sales_quantitystdev"
, (floor(("stddev_samp"("ss_quantity") / "avg"("ss_quantity")) * 10000 + 0.5) / 1e4) "store_sales_quantitycov"
, "count"("sr_return_quantity") "store_returns_quantitycount"
, (floor("avg"("sr_return_quantity") * 10000 + 0.5) / 1e4) "store_returns_quantityave"
, (floor("stddev_samp"("sr_return_quantity") * 10000 + 0.5) / 1e4) "store_returns_quantitystdev"
, (floor(("stddev_samp"("sr_return_quantity") / "avg"("sr_return_quantity")) * 10000 + 0.5) / 1e4) "store_returns_quantitycov"
, "count"("cs_quantity") "catalog_sales_quantitycount"
, (floor("avg"("cs_quantity") * 10000 + 0.5) / 1e4) "catalog_sales_quantityave"
, (floor("stddev_samp"("cs_quantity") * 10000 + 0.5) / 1e4) "catalog_sales_quantitystdev"
, (floor(("stddev_samp"("cs_quantity") / "avg"("cs_quantity")) * 10000 + 0.5) / 1e4) "catalog_sales_quantitycov"
FROM
  store_sales
, store_returns
, catalog_sales
, date_dim d1
, date_dim d2
, date_dim d3
, store
, item
WHERE ("d1"."d_quarter_name" = '2001Q1')
   AND ("d1"."d_date_sk" = "ss_sold_date_sk")
   AND ("i_item_sk" = "ss_item_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("ss_customer_sk" = "sr_customer_sk")
   AND ("ss_item_sk" = "sr_item_sk")
   AND ("ss_ticket_number" = "sr_ticket_number")
   AND ("sr_returned_date_sk" = "d2"."d_date_sk")
   AND ("d2"."d_quarter_name" IN ('2001Q1', '2001Q2', '2001Q3'))
   AND ("sr_customer_sk" = "cs_bill_customer_sk")
   AND ("sr_item_sk" = "cs_item_sk")
   AND ("cs_sold_date_sk" = "d3"."d_date_sk")
   AND ("d3"."d_quarter_name" IN ('2001Q1', '2001Q2', '2001Q3'))
GROUP BY "i_item_id", "i_item_desc", "s_state"
ORDER BY "i_item_id" ASC, "i_item_desc" ASC, "s_state" ASC
LIMIT 100
"""

_add("q17", _TEXT_Q17, "TPC-DS q17: sale->return->catalog-repurchase chain with per-channel quantity statistics (stddev/cov) (vendored: testing/trino-benchmark-queries/.../tpcds/q17.sql).")


_TEXT_Q18 = r"""
SELECT
  "i_item_id"
, "ca_country"
, "ca_state"
, "ca_county"
, (floor((2 * CAST("sum"(CAST("cs_quantity" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cs_quantity")) / (2e0 * "count"("cs_quantity"))) / 1e3) "agg1"
, (floor((2 * CAST("sum"(CAST("cs_list_price" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cs_list_price")) / (2e0 * "count"("cs_list_price"))) / 1e3) "agg2"
, (floor((2 * CAST("sum"(CAST("cs_coupon_amt" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cs_coupon_amt")) / (2e0 * "count"("cs_coupon_amt"))) / 1e3) "agg3"
, (floor((2 * CAST("sum"(CAST("cs_sales_price" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cs_sales_price")) / (2e0 * "count"("cs_sales_price"))) / 1e3) "agg4"
, (floor((2 * CAST("sum"(CAST("cs_net_profit" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cs_net_profit")) / (2e0 * "count"("cs_net_profit"))) / 1e3) "agg5"
, (floor((2 * CAST("sum"(CAST("c_birth_year" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("c_birth_year")) / (2e0 * "count"("c_birth_year"))) / 1e3) "agg6"
, (floor((2 * CAST("sum"(CAST("cd1"."cd_dep_count" AS DECIMAL(12,2))) * 1000 AS BIGINT) + "count"("cd1"."cd_dep_count")) / (2e0 * "count"("cd1"."cd_dep_count"))) / 1e3) "agg7"
FROM
  catalog_sales
, customer_demographics cd1
, customer_demographics cd2
, customer
, customer_address
, date_dim
, item
WHERE ("cs_sold_date_sk" = "d_date_sk")
   AND ("cs_item_sk" = "i_item_sk")
   AND ("cs_bill_cdemo_sk" = "cd1"."cd_demo_sk")
   AND ("cs_bill_customer_sk" = "c_customer_sk")
   AND ("cd1"."cd_gender" = 'F')
   AND ("cd1"."cd_education_status" = 'Unknown')
   AND ("c_current_cdemo_sk" = "cd2"."cd_demo_sk")
   AND ("c_current_addr_sk" = "ca_address_sk")
   AND ("c_birth_month" IN (1, 6, 8, 9, 12, 2))
   AND ("d_year" = 1998)
   AND ("ca_state" IN ('MS', 'IN', 'ND', 'OK', 'NM', 'VA', 'MS'))
GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
ORDER BY "ca_country" ASC NULLS FIRST, "ca_state" ASC NULLS FIRST, "ca_county" ASC NULLS FIRST, "i_item_id" ASC NULLS FIRST
LIMIT 100
"""

_add("q18", _TEXT_Q18, "TPC-DS q18: catalog demographics averages over a 4-level ROLLUP (two demographics joins) (vendored: testing/trino-benchmark-queries/.../tpcds/q18.sql).")


_TEXT_Q19 = r"""
SELECT
  "i_brand_id" "brand_id"
, "i_brand" "brand"
, "i_manufact_id"
, "i_manufact"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "ext_price"
FROM
  date_dim
, store_sales
, item
, customer
, customer_address
, store
WHERE ("d_date_sk" = "ss_sold_date_sk")
   AND ("ss_item_sk" = "i_item_sk")
   AND ("i_manager_id" = 8)
   AND ("d_moy" = 11)
   AND ("d_year" = 1998)
   AND ("ss_customer_sk" = "c_customer_sk")
   AND ("c_current_addr_sk" = "ca_address_sk")
   AND ("substr"("ca_zip", 1, 5) <> "substr"("s_zip", 1, 5))
   AND ("ss_store_sk" = "s_store_sk")
GROUP BY "i_brand", "i_brand_id", "i_manufact_id", "i_manufact"
ORDER BY "ext_price" DESC, "i_brand" ASC, "i_brand_id" ASC, "i_manufact_id" ASC, "i_manufact" ASC
LIMIT 100
"""

_add("q19", _TEXT_Q19, "TPC-DS q19: brand/manufacturer revenue where customer and store zip prefixes differ (6-table join) (vendored: testing/trino-benchmark-queries/.../tpcds/q19.sql).")


_TEXT_Q20 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "i_category"
, "i_class"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
, CAST("sum"("cs_ext_sales_price") AS DOUBLE) "itemrevenue"
, (floor((((CAST("sum"("cs_ext_sales_price") AS DOUBLE) * 100) / CAST("sum"("sum"("cs_ext_sales_price")) OVER (PARTITION BY "i_class") AS DOUBLE))) * 1000000 + 0.5) / 1e6) "revenueratio"
FROM
  catalog_sales
, item
, date_dim
WHERE ("cs_item_sk" = "i_item_sk")
   AND ("i_category" IN ('Sports', 'Books', 'Home'))
   AND ("cs_sold_date_sk" = "d_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN CAST('1999-02-22' AS DATE) AND (CAST('1999-02-22' AS DATE) + INTERVAL  '30' DAY))
GROUP BY "i_item_id", "i_item_desc", "i_category", "i_class", "i_current_price"
ORDER BY "i_category" ASC, "i_class" ASC, "i_item_id" ASC, "i_item_desc" ASC, "revenueratio" ASC
LIMIT 100
"""

_add("q20", _TEXT_Q20, "TPC-DS q20: catalog-channel item revenue + intra-class ratio (q98's shape on catalog_sales) (vendored: testing/trino-benchmark-queries/.../tpcds/q20.sql).")


_TEXT_Q21 = r"""
SELECT *
FROM
  (
   SELECT
     "w_warehouse_name"
   , "i_item_id"
   , CAST("sum"((CASE WHEN (CAST("d_date" AS DATE) < CAST('2000-03-11' AS DATE)) THEN "inv_quantity_on_hand" ELSE 0 END)) AS BIGINT) "inv_before"
   , CAST("sum"((CASE WHEN (CAST("d_date" AS DATE) >= CAST('2000-03-11' AS DATE)) THEN "inv_quantity_on_hand" ELSE 0 END)) AS BIGINT) "inv_after"
   FROM
     inventory
   , warehouse
   , item
   , date_dim
   WHERE ("i_current_price" BETWEEN DECIMAL '0.99' AND DECIMAL '1.49')
      AND ("i_item_sk" = "inv_item_sk")
      AND ("inv_warehouse_sk" = "w_warehouse_sk")
      AND ("inv_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN (CAST('2000-03-11' AS DATE) - INTERVAL  '30' DAY) AND (CAST('2000-03-11' AS DATE) + INTERVAL  '30' DAY))
   GROUP BY "w_warehouse_name", "i_item_id"
)  x
WHERE ((CASE WHEN ("inv_before" > 0) THEN (CAST("inv_after" AS DOUBLE) / "inv_before") ELSE null END) BETWEEN (2e0 / 3e0) AND (3e0 / 2e0))
ORDER BY "w_warehouse_name" ASC, "i_item_id" ASC
LIMIT 100
"""

_add("q21", _TEXT_Q21, "TPC-DS q21: inventory before/after ratio bracket around a date (warehouse x item) (vendored: testing/trino-benchmark-queries/.../tpcds/q21.sql).")


_TEXT_Q22 = r"""
SELECT
  "i_product_name"
, "i_brand"
, "i_class"
, "i_category"
, "avg"("inv_quantity_on_hand") "qoh"
FROM
  inventory
, date_dim
, item
WHERE ("inv_date_sk" = "d_date_sk")
   AND ("inv_item_sk" = "i_item_sk")
   AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
GROUP BY ROLLUP (i_product_name, i_brand, i_class, i_category)
ORDER BY "qoh" ASC, "i_product_name" ASC NULLS FIRST, "i_brand" ASC NULLS FIRST, "i_class" ASC NULLS FIRST, "i_category" ASC NULLS FIRST
LIMIT 100
"""

_add("q22", _TEXT_Q22, "TPC-DS q22: average on-hand quantity ROLLUP over a year of weekly snapshots (vendored: testing/trino-benchmark-queries/.../tpcds/q22.sql).")


_TEXT_Q23A = r"""
WITH
  frequent_ss_items AS (
   SELECT
     "substr"("i_item_desc", 1, 30) "itemdesc"
   , "i_item_sk" "item_sk"
   , "d_date" "solddate"
   , "count"(*) "cnt"
   FROM
     store_sales
   , date_dim
   , item
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("d_year" IN (2000   , (2000 + 1)   , (2000 + 2)   , (2000 + 3)))
   GROUP BY "substr"("i_item_desc", 1, 30), "i_item_sk", "d_date"
   HAVING ("count"(*) > 4)
) 
, max_store_sales AS (
   SELECT "max"("csales") "tpcds_cmax"
   FROM
     (
      SELECT
        "c_customer_sk"
      , "sum"(("ss_quantity" * "ss_sales_price")) "csales"
      FROM
        store_sales
      , customer
      , date_dim
      WHERE ("ss_customer_sk" = "c_customer_sk")
         AND ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_year" IN (2000      , (2000 + 1)      , (2000 + 2)      , (2000 + 3)))
      GROUP BY "c_customer_sk"
   ) 
) 
, best_ss_customer AS (
   SELECT
     "c_customer_sk"
   , "sum"(("ss_quantity" * "ss_sales_price")) "ssales"
   FROM
     store_sales
   , customer
   WHERE ("ss_customer_sk" = "c_customer_sk")
   GROUP BY "c_customer_sk"
   HAVING ("sum"(("ss_quantity" * "ss_sales_price")) > ((95 / DECIMAL '100.0') * (
            SELECT *
            FROM
              max_store_sales
         )))
) 
SELECT CAST("sum"("sales") AS DOUBLE) "sum_sales"
FROM
  (
   SELECT ("cs_quantity" * "cs_list_price") "sales"
   FROM
     catalog_sales
   , date_dim
   WHERE ("d_year" = 2000)
      AND ("d_moy" = 2)
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("cs_item_sk" IN (
      SELECT "item_sk"
      FROM
        frequent_ss_items
   ))
      AND ("cs_bill_customer_sk" IN (
      SELECT "c_customer_sk"
      FROM
        best_ss_customer
   ))
UNION ALL    SELECT ("ws_quantity" * "ws_list_price") "sales"
   FROM
     web_sales
   , date_dim
   WHERE ("d_year" = 2000)
      AND ("d_moy" = 2)
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("ws_item_sk" IN (
      SELECT "item_sk"
      FROM
        frequent_ss_items
   ))
      AND ("ws_bill_customer_sk" IN (
      SELECT "c_customer_sk"
      FROM
        best_ss_customer
   ))
) 
LIMIT 100
"""

_add("q23a", _TEXT_Q23A, "TPC-DS q23a: frequent-items x best-customers cross-channel February sales (3-CTE chain, scalar subquery threshold) (vendored: testing/trino-benchmark-queries/.../tpcds/q23a.sql).")


_TEXT_Q23B = r"""
WITH
  frequent_ss_items AS (
   SELECT
     "substr"("i_item_desc", 1, 30) "itemdesc"
   , "i_item_sk" "item_sk"
   , "d_date" "solddate"
   , "count"(*) "cnt"
   FROM
     store_sales
   , date_dim
   , item
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("d_year" IN (2000   , (2000 + 1)   , (2000 + 2)   , (2000 + 3)))
   GROUP BY "substr"("i_item_desc", 1, 30), "i_item_sk", "d_date"
   HAVING ("count"(*) > 4)
) 
, max_store_sales AS (
   SELECT "max"("csales") "tpcds_cmax"
   FROM
     (
      SELECT
        "c_customer_sk"
      , "sum"(("ss_quantity" * "ss_sales_price")) "csales"
      FROM
        store_sales
      , customer
      , date_dim
      WHERE ("ss_customer_sk" = "c_customer_sk")
         AND ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_year" IN (2000      , (2000 + 1)      , (2000 + 2)      , (2000 + 3)))
      GROUP BY "c_customer_sk"
   ) 
) 
, best_ss_customer AS (
   SELECT
     "c_customer_sk"
   , "sum"(("ss_quantity" * "ss_sales_price")) "ssales"
   FROM
     store_sales
   , customer
   WHERE ("ss_customer_sk" = "c_customer_sk")
   GROUP BY "c_customer_sk"
   HAVING ("sum"(("ss_quantity" * "ss_sales_price")) > ((95 / DECIMAL '100.0') * (
            SELECT *
            FROM
              max_store_sales
         )))
) 
SELECT
  "c_last_name"
, "c_first_name"
, "sales"
FROM
  (
   SELECT
     "c_last_name"
   , "c_first_name"
   , CAST("sum"(("cs_quantity" * "cs_list_price")) AS DOUBLE) "sales"
   FROM
     catalog_sales
   , customer
   , date_dim
   WHERE ("d_year" = 2000)
      AND ("d_moy" = 2)
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("cs_item_sk" IN (
      SELECT "item_sk"
      FROM
        frequent_ss_items
   ))
      AND ("cs_bill_customer_sk" IN (
      SELECT "c_customer_sk"
      FROM
        best_ss_customer
   ))
      AND ("cs_bill_customer_sk" = "c_customer_sk")
   GROUP BY "c_last_name", "c_first_name"
UNION ALL    SELECT
     "c_last_name"
   , "c_first_name"
   , CAST("sum"(("ws_quantity" * "ws_list_price")) AS DOUBLE) "sales"
   FROM
     web_sales
   , customer
   , date_dim
   WHERE ("d_year" = 2000)
      AND ("d_moy" = 2)
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("ws_item_sk" IN (
      SELECT "item_sk"
      FROM
        frequent_ss_items
   ))
      AND ("ws_bill_customer_sk" IN (
      SELECT "c_customer_sk"
      FROM
        best_ss_customer
   ))
      AND ("ws_bill_customer_sk" = "c_customer_sk")
   GROUP BY "c_last_name", "c_first_name"
)
ORDER BY "c_last_name", "c_first_name", "sales"
LIMIT 100
"""

_add("q23b", _TEXT_Q23B, "TPC-DS q23b: q23a's chain with per-customer attribution and grouped output (vendored: testing/trino-benchmark-queries/.../tpcds/q23b.sql).")


_TEXT_Q24A = r"""
WITH
  ssales AS (
   SELECT
     "c_last_name"
   , "c_first_name"
   , "s_store_name"
   , "ca_state"
   , "s_state"
   , "i_color"
   , "i_current_price"
   , "i_manager_id"
   , "i_units"
   , "i_size"
   , "sum"("ss_net_paid") "netpaid"
   FROM
     store_sales
   , store_returns
   , store
   , item
   , customer
   , customer_address
   WHERE ("ss_ticket_number" = "sr_ticket_number")
      AND ("ss_item_sk" = "sr_item_sk")
      AND ("ss_customer_sk" = "c_customer_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("c_current_addr_sk" = "ca_address_sk")
      AND ("c_birth_country" <> "upper"("ca_country"))
      AND ("s_zip" = "ca_zip")
      AND ("s_market_id" = 8)
   GROUP BY "c_last_name", "c_first_name", "s_store_name", "ca_state", "s_state", "i_color", "i_current_price", "i_manager_id", "i_units", "i_size"
)
SELECT
  "c_last_name"
, "c_first_name"
, "s_store_name"
, CAST("sum"("netpaid") AS DOUBLE) "paid"
FROM
  ssales
WHERE ("i_color" = 'pale')
GROUP BY "c_last_name", "c_first_name", "s_store_name"
HAVING ("sum"("netpaid") > (
      SELECT (5e-2 * (CAST("sum"("netpaid") AS DOUBLE) / "count"(*)))
      FROM
        ssales
   ))
ORDER BY "c_last_name", "c_first_name", "s_store_name"
"""

_add("q24a", _TEXT_Q24A, "TPC-DS q24a: store workers' cross-zip pale-item net-paid above 5% of average (2-level CTE aggregate) (vendored: testing/trino-benchmark-queries/.../tpcds/q24a.sql).")


_TEXT_Q24B = r"""
WITH
  ssales AS (
   SELECT
     "c_last_name"
   , "c_first_name"
   , "s_store_name"
   , "ca_state"
   , "s_state"
   , "i_color"
   , "i_current_price"
   , "i_manager_id"
   , "i_units"
   , "i_size"
   , "sum"("ss_net_paid") "netpaid"
   FROM
     store_sales
   , store_returns
   , store
   , item
   , customer
   , customer_address
   WHERE ("ss_ticket_number" = "sr_ticket_number")
      AND ("ss_item_sk" = "sr_item_sk")
      AND ("ss_customer_sk" = "c_customer_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("c_current_addr_sk" = "ca_address_sk")
      AND ("c_birth_country" <> "upper"("ca_country"))
      AND ("s_zip" = "ca_zip")
      AND ("s_market_id" = 8)
   GROUP BY "c_last_name", "c_first_name", "s_store_name", "ca_state", "s_state", "i_color", "i_current_price", "i_manager_id", "i_units", "i_size"
)
SELECT
  "c_last_name"
, "c_first_name"
, "s_store_name"
, CAST("sum"("netpaid") AS DOUBLE) "paid"
FROM
  ssales
WHERE ("i_color" = 'peach')
GROUP BY "c_last_name", "c_first_name", "s_store_name"
HAVING ("sum"("netpaid") > (
      SELECT (5e-2 * (CAST("sum"("netpaid") AS DOUBLE) / "count"(*)))
      FROM
        ssales
   ))
ORDER BY "c_last_name", "c_first_name", "s_store_name"
"""

_add("q24b", _TEXT_Q24B, "TPC-DS q24b: q24a for chiffon items (vendored: testing/trino-benchmark-queries/.../tpcds/q24b.sql).")


_TEXT_Q25 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "s_store_id"
, "s_store_name"
, CAST("sum"("ss_net_profit") AS DOUBLE) "store_sales_profit"
, CAST("sum"("sr_net_loss") AS DOUBLE) "store_returns_loss"
, CAST("sum"("cs_net_profit") AS DOUBLE) "catalog_sales_profit"
FROM
  store_sales
, store_returns
, catalog_sales
, date_dim d1
, date_dim d2
, date_dim d3
, store
, item
WHERE ("d1"."d_moy" = 4)
   AND ("d1"."d_year" = 2001)
   AND ("d1"."d_date_sk" = "ss_sold_date_sk")
   AND ("i_item_sk" = "ss_item_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("ss_customer_sk" = "sr_customer_sk")
   AND ("ss_item_sk" = "sr_item_sk")
   AND ("ss_ticket_number" = "sr_ticket_number")
   AND ("sr_returned_date_sk" = "d2"."d_date_sk")
   AND ("d2"."d_moy" BETWEEN 4 AND 10)
   AND ("d2"."d_year" = 2001)
   AND ("sr_customer_sk" = "cs_bill_customer_sk")
   AND ("sr_item_sk" = "cs_item_sk")
   AND ("cs_sold_date_sk" = "d3"."d_date_sk")
   AND ("d3"."d_moy" BETWEEN 4 AND 10)
   AND ("d3"."d_year" = 2001)
GROUP BY "i_item_id", "i_item_desc", "s_store_id", "s_store_name"
ORDER BY "i_item_id" ASC, "i_item_desc" ASC, "s_store_id" ASC, "s_store_name" ASC
LIMIT 100
"""

_add("q25", _TEXT_Q25, "TPC-DS q25: sale->return->catalog-repurchase profit/loss rollup (3 fact tables, 3 date roles) (vendored: testing/trino-benchmark-queries/.../tpcds/q25.sql).")


_TEXT_Q26 = r"""
SELECT
  "i_item_id"
, "avg"("cs_quantity") "agg1"
, (floor((2 * CAST(("sum"("cs_list_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg2"
, (floor((2 * CAST(("sum"("cs_coupon_amt")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg3"
, (floor((2 * CAST(("sum"("cs_sales_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg4"
FROM
  catalog_sales
, customer_demographics
, date_dim
, item
, promotion
WHERE ("cs_sold_date_sk" = "d_date_sk")
   AND ("cs_item_sk" = "i_item_sk")
   AND ("cs_bill_cdemo_sk" = "cd_demo_sk")
   AND ("cs_promo_sk" = "p_promo_sk")
   AND ("cd_gender" = 'M')
   AND ("cd_marital_status" = 'S')
   AND ("cd_education_status" = 'College')
   AND (("p_channel_email" = 'N')
      OR ("p_channel_event" = 'N'))
   AND ("d_year" = 2000)
GROUP BY "i_item_id"
ORDER BY "i_item_id" ASC
LIMIT 100
"""

_add("q26", _TEXT_Q26, "TPC-DS q26: catalog-channel demographic item averages (q7's shape on catalog_sales) (vendored: testing/trino-benchmark-queries/.../tpcds/q26.sql).")


_TEXT_Q27 = r"""
SELECT
  "i_item_id"
, "s_state"
, GROUPING ("s_state") "g_state"
, (floor((2 * CAST(("sum"("ss_quantity")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg1"
, (floor((2 * CAST(("sum"("ss_list_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg2"
, (floor((2 * CAST(("sum"("ss_coupon_amt")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg3"
, (floor((2 * CAST(("sum"("ss_sales_price")) * 1000 AS BIGINT) + ("count"(*))) / (2e0 * ("count"(*)))) / 1e3) "agg4"
FROM
  store_sales
, customer_demographics
, date_dim
, store
, item
WHERE ("ss_sold_date_sk" = "d_date_sk")
   AND ("ss_item_sk" = "i_item_sk")
   AND ("ss_store_sk" = "s_store_sk")
   AND ("ss_cdemo_sk" = "cd_demo_sk")
   AND ("cd_gender" = 'M')
   AND ("cd_marital_status" = 'S')
   AND ("cd_education_status" = 'College')
   AND ("d_year" = 2002)
   AND ("s_state" IN (
     'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'))
GROUP BY ROLLUP (i_item_id, s_state)
ORDER BY "i_item_id" ASC NULLS FIRST, "s_state" ASC NULLS FIRST
LIMIT 100
"""

_add("q27", _TEXT_Q27, "TPC-DS q27: store demographic item averages over a (item, state) ROLLUP with GROUPING() (vendored: testing/trino-benchmark-queries/.../tpcds/q27.sql).")


_TEXT_Q28 = r"""
SELECT *
FROM
  (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b1_lp"
   , "count"("ss_list_price") "b1_cnt"
   , "count"(DISTINCT "ss_list_price") "b1_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 0 AND 5)
      AND (("ss_list_price" BETWEEN 8 AND (8 + 10))
         OR ("ss_coupon_amt" BETWEEN 459 AND (459 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 57 AND (57 + 20)))
)  b1
, (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b2_lp"
   , "count"("ss_list_price") "b2_cnt"
   , "count"(DISTINCT "ss_list_price") "b2_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 6 AND 10)
      AND (("ss_list_price" BETWEEN 90 AND (90 + 10))
         OR ("ss_coupon_amt" BETWEEN 2323 AND (2323 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 31 AND (31 + 20)))
)  b2
, (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b3_lp"
   , "count"("ss_list_price") "b3_cnt"
   , "count"(DISTINCT "ss_list_price") "b3_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 11 AND 15)
      AND (("ss_list_price" BETWEEN 142 AND (142 + 10))
         OR ("ss_coupon_amt" BETWEEN 12214 AND (12214 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 79 AND (79 + 20)))
)  b3
, (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b4_lp"
   , "count"("ss_list_price") "b4_cnt"
   , "count"(DISTINCT "ss_list_price") "b4_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 16 AND 20)
      AND (("ss_list_price" BETWEEN 135 AND (135 + 10))
         OR ("ss_coupon_amt" BETWEEN 6071 AND (6071 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 38 AND (38 + 20)))
)  b4
, (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b5_lp"
   , "count"("ss_list_price") "b5_cnt"
   , "count"(DISTINCT "ss_list_price") "b5_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 21 AND 25)
      AND (("ss_list_price" BETWEEN 122 AND (122 + 10))
         OR ("ss_coupon_amt" BETWEEN 836 AND (836 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 17 AND (17 + 20)))
)  b5
, (
   SELECT
     (floor((2 * CAST("sum"("ss_list_price") * 1000 AS BIGINT) + "count"("ss_list_price")) / (2e0 * "count"("ss_list_price"))) / 1e3) "b6_lp"
   , "count"("ss_list_price") "b6_cnt"
   , "count"(DISTINCT "ss_list_price") "b6_cntd"
   FROM
     store_sales
   WHERE ("ss_quantity" BETWEEN 26 AND 30)
      AND (("ss_list_price" BETWEEN 154 AND (154 + 10))
         OR ("ss_coupon_amt" BETWEEN 7326 AND (7326 + 1000))
         OR ("ss_wholesale_cost" BETWEEN 7 AND (7 + 20)))
)  b6
LIMIT 100
"""

_add("q28", _TEXT_Q28, "TPC-DS q28: six quantity-bucket (avg, count, distinct-count) cells cross-joined into one row (vendored: testing/trino-benchmark-queries/.../tpcds/q28.sql).")


_TEXT_Q29 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "s_store_id"
, "s_store_name"
, CAST("sum"("ss_quantity") AS BIGINT) "store_sales_quantity"
, CAST("sum"("sr_return_quantity") AS BIGINT) "store_returns_quantity"
, CAST("sum"("cs_quantity") AS BIGINT) "catalog_sales_quantity"
FROM
  store_sales
, store_returns
, catalog_sales
, date_dim d1
, date_dim d2
, date_dim d3
, store
, item
WHERE ("d1"."d_moy" = 9)
   AND ("d1"."d_year" = 1999)
   AND ("d1"."d_date_sk" = "ss_sold_date_sk")
   AND ("i_item_sk" = "ss_item_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("ss_customer_sk" = "sr_customer_sk")
   AND ("ss_item_sk" = "sr_item_sk")
   AND ("ss_ticket_number" = "sr_ticket_number")
   AND ("sr_returned_date_sk" = "d2"."d_date_sk")
   AND ("d2"."d_moy" BETWEEN 9 AND (9 + 3))
   AND ("d2"."d_year" = 1999)
   AND ("sr_customer_sk" = "cs_bill_customer_sk")
   AND ("sr_item_sk" = "cs_item_sk")
   AND ("cs_sold_date_sk" = "d3"."d_date_sk")
   AND ("d3"."d_year" IN (1999, (1999 + 1), (1999 + 2)))
GROUP BY "i_item_id", "i_item_desc", "s_store_id", "s_store_name"
ORDER BY "i_item_id" ASC, "i_item_desc" ASC, "s_store_id" ASC, "s_store_name" ASC
LIMIT 100
"""

_add("q29", _TEXT_Q29, "TPC-DS q29: sale->return->catalog-repurchase quantity rollup (q25's shape on quantities) (vendored: testing/trino-benchmark-queries/.../tpcds/q29.sql).")


_TEXT_Q30 = r"""
WITH
  customer_total_return AS (
   SELECT
     "wr_returning_customer_sk" "ctr_customer_sk"
   , "ca_state" "ctr_state"
   , "sum"("wr_return_amt") "ctr_total_return"
   FROM
     web_returns
   , date_dim
   , customer_address
   WHERE ("wr_returned_date_sk" = "d_date_sk")
      AND ("d_year" = 2002)
      AND ("wr_returning_addr_sk" = "ca_address_sk")
   GROUP BY "wr_returning_customer_sk", "ca_state"
) 
SELECT
  "c_customer_id"
, "c_salutation"
, "c_first_name"
, "c_last_name"
, "c_preferred_cust_flag"
, "c_birth_day"
, "c_birth_month"
, "c_birth_year"
, "c_birth_country"
, "c_login"
, "c_email_address"
, "c_last_review_date_sk"
, CAST("ctr_total_return" AS DOUBLE) "ctr_total_return"
FROM
  customer_total_return ctr1
, customer_address
, customer
WHERE ("ctr1"."ctr_total_return" > (
      SELECT ("avg"("ctr_total_return") * DECIMAL '1.2')
      FROM
        customer_total_return ctr2
      WHERE ("ctr1"."ctr_state" = "ctr2"."ctr_state")
   ))
   AND ("ca_address_sk" = "c_current_addr_sk")
   AND ("ca_state" = 'GA')
   AND ("ctr1"."ctr_customer_sk" = "c_customer_sk")
ORDER BY "c_customer_id" ASC, "c_salutation" ASC, "c_first_name" ASC, "c_last_name" ASC, "c_preferred_cust_flag" ASC, "c_birth_day" ASC, "c_birth_month" ASC, "c_birth_year" ASC, "c_birth_country" ASC, "c_login" ASC, "c_email_address" ASC, "c_last_review_date_sk" ASC, "ctr_total_return" ASC
LIMIT 100
"""

_add("q30", _TEXT_Q30, "TPC-DS q30: web customers returning above 1.2x their state average (q01's shape on web_returns) (vendored: testing/trino-benchmark-queries/.../tpcds/q30.sql).")


_TEXT_Q31 = r"""
WITH
  ss AS (
   SELECT
     "ca_county"
   , "d_qoy"
   , "d_year"
   , CAST("sum"("ss_ext_sales_price") AS DOUBLE) "store_sales"
   FROM
     store_sales
   , date_dim
   , customer_address
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_addr_sk" = "ca_address_sk")
   GROUP BY "ca_county", "d_qoy", "d_year"
) 
, ws AS (
   SELECT
     "ca_county"
   , "d_qoy"
   , "d_year"
   , CAST("sum"("ws_ext_sales_price") AS DOUBLE) "web_sales"
   FROM
     web_sales
   , date_dim
   , customer_address
   WHERE ("ws_sold_date_sk" = "d_date_sk")
      AND ("ws_bill_addr_sk" = "ca_address_sk")
   GROUP BY "ca_county", "d_qoy", "d_year"
) 
SELECT
  "ss1"."ca_county"
, "ss1"."d_year"
, ("ws2"."web_sales" / "ws1"."web_sales") "web_q1_q2_increase"
, ("ss2"."store_sales" / "ss1"."store_sales") "store_q1_q2_increase"
, ("ws3"."web_sales" / "ws2"."web_sales") "web_q2_q3_increase"
, ("ss3"."store_sales" / "ss2"."store_sales") "store_q2_q3_increase"
FROM
  ss ss1
, ss ss2
, ss ss3
, ws ws1
, ws ws2
, ws ws3
WHERE ("ss1"."d_qoy" = 1)
   AND ("ss1"."d_year" = 2000)
   AND ("ss1"."ca_county" = "ss2"."ca_county")
   AND ("ss2"."d_qoy" = 2)
   AND ("ss2"."d_year" = 2000)
   AND ("ss2"."ca_county" = "ss3"."ca_county")
   AND ("ss3"."d_qoy" = 3)
   AND ("ss3"."d_year" = 2000)
   AND ("ss1"."ca_county" = "ws1"."ca_county")
   AND ("ws1"."d_qoy" = 1)
   AND ("ws1"."d_year" = 2000)
   AND ("ws1"."ca_county" = "ws2"."ca_county")
   AND ("ws2"."d_qoy" = 2)
   AND ("ws2"."d_year" = 2000)
   AND ("ws1"."ca_county" = "ws3"."ca_county")
   AND ("ws3"."d_qoy" = 3)
   AND ("ws3"."d_year" = 2000)
   AND ((CASE WHEN ("ws1"."web_sales" > 0) THEN ("ws2"."web_sales" / "ws1"."web_sales") ELSE null END) > (CASE WHEN ("ss1"."store_sales" > 0) THEN ("ss2"."store_sales" / "ss1"."store_sales") ELSE null END))
   AND ((CASE WHEN ("ws2"."web_sales" > 0) THEN ("ws3"."web_sales" / "ws2"."web_sales") ELSE null END) > (CASE WHEN ("ss2"."store_sales" > 0) THEN ("ss3"."store_sales" / "ss2"."store_sales") ELSE null END))
ORDER BY "ss1"."ca_county" ASC
"""

_add("q31", _TEXT_Q31, "TPC-DS q31: county-level store-vs-web quarter-over-quarter growth: 6 self-joins of 2 CTEs (vendored: testing/trino-benchmark-queries/.../tpcds/q31.sql).")


_TEXT_Q32 = r"""
SELECT CAST("sum"("cs_ext_discount_amt") AS DOUBLE) "excess discount amount"
FROM
  catalog_sales
, item
, date_dim
WHERE ("i_manufact_id" = 977)
   AND ("i_item_sk" = "cs_item_sk")
   AND ("d_date" BETWEEN CAST('2000-01-27' AS DATE) AND (CAST('2000-01-27' AS DATE) + INTERVAL  '90' DAY))
   AND ("d_date_sk" = "cs_sold_date_sk")
   AND ("cs_ext_discount_amt" > (
      SELECT (DECIMAL '1.3' * "avg"("cs_ext_discount_amt"))
      FROM
        catalog_sales
      , date_dim
      WHERE ("cs_item_sk" = "i_item_sk")
         AND ("d_date" BETWEEN CAST('2000-01-27' AS DATE) AND (CAST('2000-01-27' AS DATE) + INTERVAL  '90' DAY))
         AND ("d_date_sk" = "cs_sold_date_sk")
   ))
LIMIT 100
"""

_add("q32", _TEXT_Q32, "TPC-DS q32: excess discount: sales beating 1.3x the item's average discount (correlated scalar subquery, quoted alias with spaces) (vendored: testing/trino-benchmark-queries/.../tpcds/q32.sql).")


_TEXT_Q33 = r"""
WITH
  ss AS (
   SELECT
     "i_manufact_id"
   , "sum"("ss_ext_sales_price") "total_sales"
   FROM
     store_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_manufact_id" IN (
      SELECT "i_manufact_id"
      FROM
        item
      WHERE ("i_category" IN ('Electronics'))
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 5)
      AND ("ss_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_manufact_id"
) 
, cs AS (
   SELECT
     "i_manufact_id"
   , "sum"("cs_ext_sales_price") "total_sales"
   FROM
     catalog_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_manufact_id" IN (
      SELECT "i_manufact_id"
      FROM
        item
      WHERE ("i_category" IN ('Electronics'))
   ))
      AND ("cs_item_sk" = "i_item_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 5)
      AND ("cs_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_manufact_id"
) 
, ws AS (
   SELECT
     "i_manufact_id"
   , "sum"("ws_ext_sales_price") "total_sales"
   FROM
     web_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_manufact_id" IN (
      SELECT "i_manufact_id"
      FROM
        item
      WHERE ("i_category" IN ('Electronics'))
   ))
      AND ("ws_item_sk" = "i_item_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 5)
      AND ("ws_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_manufact_id"
) 
SELECT
  "i_manufact_id"
, CAST("sum"("total_sales") AS DOUBLE) "total_sales"
FROM
  (
   SELECT *
   FROM
     ss
UNION ALL    SELECT *
   FROM
     cs
UNION ALL    SELECT *
   FROM
     ws
)  tmp1
GROUP BY "i_manufact_id"
ORDER BY "total_sales" ASC
LIMIT 100
"""

_add("q33", _TEXT_Q33, "TPC-DS q33: per-manufacturer Electronics revenue across 3 channels (UNION ALL of 3 CTEs) (vendored: testing/trino-benchmark-queries/.../tpcds/q33.sql).")


_TEXT_Q34 = r"""
SELECT
  "c_last_name"
, "c_first_name"
, "c_salutation"
, "c_preferred_cust_flag"
, "ss_ticket_number"
, "cnt"
FROM
  (
   SELECT
     "ss_ticket_number"
   , "ss_customer_sk"
   , "count"(*) "cnt"
   FROM
     store_sales
   , date_dim
   , store
   , household_demographics
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_store_sk" = "store"."s_store_sk")
      AND ("store_sales"."ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND (("date_dim"."d_dom" BETWEEN 1 AND 3)
         OR ("date_dim"."d_dom" BETWEEN 25 AND 28))
      AND (("household_demographics"."hd_buy_potential" = '>10000')
         OR ("household_demographics"."hd_buy_potential" = 'Unknown'))
      AND ("household_demographics"."hd_vehicle_count" > 0)
      AND ((CASE WHEN ("household_demographics"."hd_vehicle_count" > 0) THEN (CAST("household_demographics"."hd_dep_count" AS DECIMAL(7,2)) / "household_demographics"."hd_vehicle_count") ELSE null END) > DECIMAL '1.2')
      AND ("date_dim"."d_year" IN (1999   , (1999 + 1)   , (1999 + 2)))
      AND ("store"."s_county" IN ('Williamson County'   , 'Williamson County'   , 'Williamson County'   , 'Williamson County'   , 'Williamson County'   , 'Williamson County'   , 'Williamson County'   , 'Williamson County'))
   GROUP BY "ss_ticket_number", "ss_customer_sk"
)  dn
, customer
WHERE ("ss_customer_sk" = "c_customer_sk")
   AND ("cnt" BETWEEN 15 AND 20)
ORDER BY "c_last_name" ASC, "c_first_name" ASC, "c_salutation" ASC, "c_preferred_cust_flag" DESC, "ss_ticket_number" ASC
"""

_add("q34", _TEXT_Q34, "TPC-DS q34: ticket-sized customer groups: per-ticket line counts BETWEEN 15 AND 20 with vehicle/dependents ratios (vendored: testing/trino-benchmark-queries/.../tpcds/q34.sql).")


_TEXT_Q35 = r"""
SELECT
  "ca_state"
, "cd_gender"
, "cd_marital_status"
, "cd_dep_count"
, "count"(*) "cnt1"
, "min"("cd_dep_count") "min1"
, "max"("cd_dep_count") "max1"
, "avg"("cd_dep_count") "avg1"
, "cd_dep_employed_count"
, "count"(*) "cnt2"
, "min"("cd_dep_employed_count") "min2"
, "max"("cd_dep_employed_count") "max2"
, "avg"("cd_dep_employed_count") "avg2"
, "cd_dep_college_count"
, "count"(*) "cnt3"
, "min"("cd_dep_college_count") "min3"
, "max"("cd_dep_college_count") "max3"
, "avg"("cd_dep_college_count") "avg3"
FROM
  customer c
, customer_address ca
, customer_demographics
WHERE ("c"."c_current_addr_sk" = "ca"."ca_address_sk")
   AND ("cd_demo_sk" = "c"."c_current_cdemo_sk")
   AND (EXISTS (
   SELECT *
   FROM
     store_sales
   , date_dim
   WHERE ("c"."c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2002)
      AND ("d_qoy" < 4)
))
   AND ((EXISTS (
      SELECT *
      FROM
        web_sales
      , date_dim
      WHERE ("c"."c_customer_sk" = "ws_bill_customer_sk")
         AND ("ws_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2002)
         AND ("d_qoy" < 4)
   ))
      OR (EXISTS (
      SELECT *
      FROM
        catalog_sales
      , date_dim
      WHERE ("c"."c_customer_sk" = "cs_ship_customer_sk")
         AND ("cs_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2002)
         AND ("d_qoy" < 4)
   )))
GROUP BY "ca_state", "cd_gender", "cd_marital_status", "cd_dep_count", "cd_dep_employed_count", "cd_dep_college_count"
ORDER BY "ca_state" ASC, "cd_gender" ASC, "cd_marital_status" ASC, "cd_dep_count" ASC, "cd_dep_employed_count" ASC, "cd_dep_college_count" ASC
LIMIT 100
"""

_add("q35", _TEXT_Q35, "TPC-DS q35: customers active in store AND (web OR catalog) with dependent-count statistics (vendored: testing/trino-benchmark-queries/.../tpcds/q35.sql).")


_TEXT_Q36 = r"""
SELECT
  (floor(((CAST("sum"("ss_net_profit") AS DOUBLE) / CAST("sum"("ss_ext_sales_price") AS DOUBLE))) * 1000000 + 0.5) / 1e6) "gross_margin"
, "i_category"
, "i_class"
, (GROUPING ("i_category") + GROUPING ("i_class")) "lochierarchy"
, "rank"() OVER (PARTITION BY (GROUPING ("i_category") + GROUPING ("i_class")), (CASE WHEN (GROUPING ("i_class") = 0) THEN "i_category" END) ORDER BY (floor(((CAST("sum"("ss_net_profit") AS DOUBLE) / CAST("sum"("ss_ext_sales_price") AS DOUBLE))) * 1000000 + 0.5) / 1e6) ASC) "rank_within_parent"
FROM
  store_sales
, date_dim d1
, item
, store
WHERE ("d1"."d_year" = 2001)
   AND ("d1"."d_date_sk" = "ss_sold_date_sk")
   AND ("i_item_sk" = "ss_item_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("s_state" IN (
     'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'
   , 'TN'))
GROUP BY ROLLUP (i_category, i_class)
ORDER BY "lochierarchy" DESC, (CASE WHEN ("lochierarchy" = 0) THEN "i_category" END) ASC, "rank_within_parent" ASC, "i_category", "i_class"
LIMIT 100
"""

_add("q36", _TEXT_Q36, "TPC-DS q36: gross margin ROLLUP over (category, class) with GROUPING() and rank() within hierarchy level (vendored: testing/trino-benchmark-queries/.../tpcds/q36.sql).")


_TEXT_Q37 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
FROM
  item
, inventory
, date_dim
, catalog_sales
WHERE ("i_current_price" BETWEEN 68 AND (68 + 30))
   AND ("inv_item_sk" = "i_item_sk")
   AND ("d_date_sk" = "inv_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN CAST('2000-02-01' AS DATE) AND (CAST('2000-02-01' AS DATE) + INTERVAL  '60' DAY))
   AND ("i_manufact_id" IN (677, 940, 694, 808))
   AND ("inv_quantity_on_hand" BETWEEN 100 AND 500)
   AND ("cs_item_sk" = "i_item_sk")
GROUP BY "i_item_id", "i_item_desc", "i_current_price"
ORDER BY "i_item_id" ASC
LIMIT 100
"""

_add("q37", _TEXT_Q37, "TPC-DS q37: catalog items with 100-500 on-hand in a 60-day window (vendored: testing/trino-benchmark-queries/.../tpcds/q37.sql).")


_TEXT_Q38 = r"""
SELECT CAST("count"(*) AS BIGINT) "cnt"
FROM
  (
   SELECT DISTINCT
     "c_last_name"
   , "c_first_name"
   , "d_date"
   FROM
     store_sales
   , date_dim
   , customer
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_customer_sk" = "customer"."c_customer_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
INTERSECT    SELECT DISTINCT
     "c_last_name"
   , "c_first_name"
   , "d_date"
   FROM
     catalog_sales
   , date_dim
   , customer
   WHERE ("catalog_sales"."cs_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("catalog_sales"."cs_bill_customer_sk" = "customer"."c_customer_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
INTERSECT    SELECT DISTINCT
     "c_last_name"
   , "c_first_name"
   , "d_date"
   FROM
     web_sales
   , date_dim
   , customer
   WHERE ("web_sales"."ws_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("web_sales"."ws_bill_customer_sk" = "customer"."c_customer_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
)  hot_cust
LIMIT 100
"""

_add("q38", _TEXT_Q38, "TPC-DS q38: customers active in ALL 3 channels in one year: 3-way INTERSECT of (name, date) sets (vendored: testing/trino-benchmark-queries/.../tpcds/q38.sql).")


_TEXT_Q39A = r"""
WITH
  inv AS (
   SELECT
     "w_warehouse_name"
   , "w_warehouse_sk"
   , "i_item_sk"
   , "d_moy"
   , "stdev"
   , "mean"
   , (CASE "mean" WHEN 0 THEN null ELSE ("stdev" / "mean") END) "cov"
   FROM
     (
      SELECT
        "w_warehouse_name"
      , "w_warehouse_sk"
      , "i_item_sk"
      , "d_moy"
      , "stddev_samp"("inv_quantity_on_hand") "stdev"
      , "avg"("inv_quantity_on_hand") "mean"
      FROM
        inventory
      , item
      , warehouse
      , date_dim
      WHERE ("inv_item_sk" = "i_item_sk")
         AND ("inv_warehouse_sk" = "w_warehouse_sk")
         AND ("inv_date_sk" = "d_date_sk")
         AND ("d_year" = 2001)
      GROUP BY "w_warehouse_name", "w_warehouse_sk", "i_item_sk", "d_moy"
   )  foo
   WHERE ((CASE "mean" WHEN 0 THEN 0 ELSE ("stdev" / "mean") END) > 1)
) 
SELECT
  "inv1"."w_warehouse_sk" "wsk1"
, "inv1"."i_item_sk" "isk1"
, "inv1"."d_moy" "moy1"
, "inv1"."mean" "mean1"
, (floor("inv1"."cov" * 1e6 + 0.5) / 1e6) "cov1" -- decrease precision to avoid unstable results due to roundings
, "inv2"."w_warehouse_sk" "wsk2"
, "inv2"."i_item_sk" "isk2"
, "inv2"."d_moy" "moy2"
, "inv2"."mean" "mean2"
, (floor("inv2"."cov" * 1e6 + 0.5) / 1e6) "cov2" -- decrease precision to avoid unstable results due to roundings
FROM
  inv inv1
, inv inv2
WHERE ("inv1"."i_item_sk" = "inv2"."i_item_sk")
   AND ("inv1"."w_warehouse_sk" = "inv2"."w_warehouse_sk")
   AND ("inv1"."d_moy" = 1)
   AND ("inv2"."d_moy" = (1 + 1))
ORDER BY "inv1"."w_warehouse_sk" ASC, "inv1"."i_item_sk" ASC, "inv1"."d_moy" ASC, "inv1"."mean" ASC, "inv1"."cov" ASC, "inv2"."d_moy" ASC, "inv2"."mean" ASC, "inv2"."cov" ASC
"""

_add("q39a", _TEXT_Q39A, "TPC-DS q39a: inventory demand volatility: month-over-month (warehouse, item) cov pairs above 1 (vendored: testing/trino-benchmark-queries/.../tpcds/q39a.sql).")


_TEXT_Q39B = r"""
WITH
  inv AS (
   SELECT
     "w_warehouse_name"
   , "w_warehouse_sk"
   , "i_item_sk"
   , "d_moy"
   , "stdev"
   , "mean"
   , (CASE "mean" WHEN 0 THEN null ELSE ("stdev" / "mean") END) "cov"
   FROM
     (
      SELECT
        "w_warehouse_name"
      , "w_warehouse_sk"
      , "i_item_sk"
      , "d_moy"
      , "stddev_samp"("inv_quantity_on_hand") "stdev"
      , "avg"("inv_quantity_on_hand") "mean"
      FROM
        inventory
      , item
      , warehouse
      , date_dim
      WHERE ("inv_item_sk" = "i_item_sk")
         AND ("inv_warehouse_sk" = "w_warehouse_sk")
         AND ("inv_date_sk" = "d_date_sk")
         AND ("d_year" = 2001)
      GROUP BY "w_warehouse_name", "w_warehouse_sk", "i_item_sk", "d_moy"
   )  foo
   WHERE ((CASE "mean" WHEN 0 THEN 0 ELSE ("stdev" / "mean") END) > 1)
) 
SELECT
  "inv1"."w_warehouse_sk" "wsk1"
, "inv1"."i_item_sk" "isk1"
, "inv1"."d_moy" "moy1"
, "inv1"."mean" "mean1"
, (floor("inv1"."cov" * 1e6 + 0.5) / 1e6) "cov1" -- decrease precision to avoid unstable results due to roundings
, "inv2"."w_warehouse_sk" "wsk2"
, "inv2"."i_item_sk" "isk2"
, "inv2"."d_moy" "moy2"
, "inv2"."mean" "mean2"
, (floor("inv2"."cov" * 1e6 + 0.5) / 1e6) "cov2" -- decrease precision to avoid unstable results due to roundings
FROM
  inv inv1
, inv inv2
WHERE ("inv1"."i_item_sk" = "inv2"."i_item_sk")
   AND ("inv1"."w_warehouse_sk" = "inv2"."w_warehouse_sk")
   AND ("inv1"."d_moy" = 1)
   AND ("inv2"."d_moy" = (1 + 1))
   AND ("inv1"."cov" > DECIMAL '1.5')
ORDER BY "inv1"."w_warehouse_sk" ASC, "inv1"."i_item_sk" ASC, "inv1"."d_moy" ASC, "inv1"."mean" ASC, "inv1"."cov" ASC, "inv2"."d_moy" ASC, "inv2"."mean" ASC, "inv2"."cov" ASC
"""

_add("q39b", _TEXT_Q39B, "TPC-DS q39b: q39a restricted to cov > 1.5 in the first month (vendored: testing/trino-benchmark-queries/.../tpcds/q39b.sql).")


_TEXT_Q40 = r"""
SELECT
  "w_state"
, "i_item_id"
, CAST("sum"((CASE WHEN (CAST("d_date" AS DATE) < CAST('2000-03-11' AS DATE)) THEN ("cs_sales_price" - COALESCE("cr_refunded_cash", 0)) ELSE 0 END)) AS DOUBLE) "sales_before"
, CAST("sum"((CASE WHEN (CAST("d_date" AS DATE) >= CAST('2000-03-11' AS DATE)) THEN ("cs_sales_price" - COALESCE("cr_refunded_cash", 0)) ELSE 0 END)) AS DOUBLE) "sales_after"
FROM
  (catalog_sales
LEFT JOIN catalog_returns ON ("cs_order_number" = "cr_order_number")
   AND ("cs_item_sk" = "cr_item_sk"))
, warehouse
, item
, date_dim
WHERE ("i_current_price" BETWEEN DECIMAL '0.99' AND DECIMAL '1.49')
   AND ("i_item_sk" = "cs_item_sk")
   AND ("cs_warehouse_sk" = "w_warehouse_sk")
   AND ("cs_sold_date_sk" = "d_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN (CAST('2000-03-11' AS DATE) - INTERVAL  '30' DAY) AND (CAST('2000-03-11' AS DATE) + INTERVAL  '30' DAY))
GROUP BY "w_state", "i_item_id"
ORDER BY "w_state" ASC, "i_item_id" ASC
LIMIT 100
"""

_add("q40", _TEXT_Q40, "TPC-DS q40: warehouse sales before/after a date, net of returns (LEFT JOIN on order+item) (vendored: testing/trino-benchmark-queries/.../tpcds/q40.sql).")


_TEXT_Q41 = r"""
SELECT DISTINCT "i_product_name"
FROM
  item i1
WHERE ("i_manufact_id" BETWEEN 738 AND (738 + 40))
   AND ((
      SELECT "count"(*) "item_cnt"
      FROM
        item
      WHERE (("i_manufact" = "i1"."i_manufact")
            AND ((("i_category" = 'Women')
                  AND (("i_color" = 'powder')
                     OR ("i_color" = 'khaki'))
                  AND (("i_units" = 'Ounce')
                     OR ("i_units" = 'Oz'))
                  AND (("i_size" = 'medium')
                     OR ("i_size" = 'extra large')))
               OR (("i_category" = 'Women')
                  AND (("i_color" = 'brown')
                     OR ("i_color" = 'honeydew'))
                  AND (("i_units" = 'Bunch')
                     OR ("i_units" = 'Ton'))
                  AND (("i_size" = 'N/A')
                     OR ("i_size" = 'small')))
               OR (("i_category" = 'Men')
                  AND (("i_color" = 'floral')
                     OR ("i_color" = 'deep'))
                  AND (("i_units" = 'N/A')
                     OR ("i_units" = 'Dozen'))
                  AND (("i_size" = 'petite')
                     OR ("i_size" = 'large')))
               OR (("i_category" = 'Men')
                  AND (("i_color" = 'light')
                     OR ("i_color" = 'cornflower'))
                  AND (("i_units" = 'Box')
                     OR ("i_units" = 'Pound'))
                  AND (("i_size" = 'medium')
                     OR ("i_size" = 'extra large')))))
         OR (("i_manufact" = "i1"."i_manufact")
            AND ((("i_category" = 'Women')
                  AND (("i_color" = 'midnight')
                     OR ("i_color" = 'snow'))
                  AND (("i_units" = 'Pallet')
                     OR ("i_units" = 'Gross'))
                  AND (("i_size" = 'medium')
                     OR ("i_size" = 'extra large')))
               OR (("i_category" = 'Women')
                  AND (("i_color" = 'cyan')
                     OR ("i_color" = 'papaya'))
                  AND (("i_units" = 'Cup')
                     OR ("i_units" = 'Dram'))
                  AND (("i_size" = 'N/A')
                     OR ("i_size" = 'small')))
               OR (("i_category" = 'Men')
                  AND (("i_color" = 'orange')
                     OR ("i_color" = 'frosted'))
                  AND (("i_units" = 'Each')
                     OR ("i_units" = 'Tbl'))
                  AND (("i_size" = 'petite')
                     OR ("i_size" = 'large')))
               OR (("i_category" = 'Men')
                  AND (("i_color" = 'forest')
                     OR ("i_color" = 'ghost'))
                  AND (("i_units" = 'Lb')
                     OR ("i_units" = 'Bundle'))
                  AND (("i_size" = 'medium')
                     OR ("i_size" = 'extra large')))))
   ) > 0)
ORDER BY "i_product_name" ASC
LIMIT 100
"""

_add("q41", _TEXT_Q41, "TPC-DS q41: distinct manufacturers with items in color/unit/size combination blocks (correlated count) (vendored: testing/trino-benchmark-queries/.../tpcds/q41.sql).")


_TEXT_Q42 = r"""
SELECT
  "dt"."d_year"
, "item"."i_category_id"
, "item"."i_category"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "sum_sales"
FROM
  date_dim dt
, store_sales
, item
WHERE ("dt"."d_date_sk" = "store_sales"."ss_sold_date_sk")
   AND ("store_sales"."ss_item_sk" = "item"."i_item_sk")
   AND ("item"."i_manager_id" = 1)
   AND ("dt"."d_moy" = 11)
   AND ("dt"."d_year" = 2000)
GROUP BY "dt"."d_year", "item"."i_category_id", "item"."i_category"
ORDER BY "sum"("ss_ext_sales_price") DESC, "dt"."d_year" ASC, "item"."i_category_id" ASC, "item"."i_category" ASC
LIMIT 100
"""

_add("q42", _TEXT_Q42, "TPC-DS q42: category revenue for one manager's items, November 2000 (vendored: testing/trino-benchmark-queries/.../tpcds/q42.sql).")


_TEXT_Q43 = r"""
SELECT
  "s_store_name"
, "s_store_id"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Sunday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "sun_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Monday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "mon_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Tuesday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "tue_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Wednesday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "wed_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Thursday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "thu_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Friday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "fri_sales"
, CAST("sum"((CASE WHEN ("d_day_name" = 'Saturday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "sat_sales"
FROM
  date_dim
, store_sales
, store
WHERE ("d_date_sk" = "ss_sold_date_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("s_gmt_offset" = -5)
   AND ("d_year" = 2000)
GROUP BY "s_store_name", "s_store_id"
ORDER BY "s_store_name" ASC, "s_store_id" ASC, "sun_sales" ASC, "mon_sales" ASC, "tue_sales" ASC, "wed_sales" ASC, "thu_sales" ASC, "fri_sales" ASC, "sat_sales" ASC
LIMIT 100
"""

_add("q43", _TEXT_Q43, "TPC-DS q43: per-store day-of-week sales pivot (vendored: testing/trino-benchmark-queries/.../tpcds/q43.sql).")


_TEXT_Q44 = r"""
SELECT
  "asceding"."rnk"
, "i1"."i_product_name" "best_performing"
, "i2"."i_product_name" "worst_performing"
FROM
  (
   SELECT *
   FROM
     (
      SELECT
        "item_sk"
      , "rank"() OVER (ORDER BY "rank_col" ASC) "rnk"
      FROM
        (
         SELECT
           "ss_item_sk" "item_sk"
         , (CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) "rank_col"
         FROM
           store_sales ss1
         WHERE ("ss_store_sk" = 4)
         GROUP BY "ss_item_sk"
         HAVING ((CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) > (DECIMAL '0.9' * (
                  SELECT (CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) "rank_col"
                  FROM
                    store_sales
                  WHERE ("ss_store_sk" = 4)
                     AND ("ss_addr_sk" IS NULL)
                  GROUP BY "ss_store_sk"
               )))
      )  v1
   )  v11
   WHERE ("rnk" < 11)
)  asceding
, (
   SELECT *
   FROM
     (
      SELECT
        "item_sk"
      , "rank"() OVER (ORDER BY "rank_col" DESC) "rnk"
      FROM
        (
         SELECT
           "ss_item_sk" "item_sk"
         , (CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) "rank_col"
         FROM
           store_sales ss1
         WHERE ("ss_store_sk" = 4)
         GROUP BY "ss_item_sk"
         HAVING ((CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) > (DECIMAL '0.9' * (
                  SELECT (CAST("sum"("ss_net_profit") AS DOUBLE) / "count"("ss_net_profit")) "rank_col"
                  FROM
                    store_sales
                  WHERE ("ss_store_sk" = 4)
                     AND ("ss_addr_sk" IS NULL)
                  GROUP BY "ss_store_sk"
               )))
      )  v2
   )  v21
   WHERE ("rnk" < 11)
)  descending
, item i1
, item i2
WHERE ("asceding"."rnk" = "descending"."rnk")
   AND ("i1"."i_item_sk" = "asceding"."item_sk")
   AND ("i2"."i_item_sk" = "descending"."item_sk")
ORDER BY "asceding"."rnk" ASC,
   -- additional columns to assure results stability for larger scale factors; this is a deviation from TPC-DS specification
   "i1"."i_product_name" ASC, "i2"."i_product_name" ASC
LIMIT 100
"""

_add("q44", _TEXT_Q44, "TPC-DS q44: best and worst performing items by store-4 average profit: dual rank() join (vendored: testing/trino-benchmark-queries/.../tpcds/q44.sql).")


_TEXT_Q45 = r"""
SELECT
  "ca_zip"
, "ca_city"
, CAST("sum"("ws_sales_price") AS DOUBLE) "sum_price"
FROM
  web_sales
, customer
, customer_address
, date_dim
, item
WHERE ("ws_bill_customer_sk" = "c_customer_sk")
   AND ("c_current_addr_sk" = "ca_address_sk")
   AND ("ws_item_sk" = "i_item_sk")
   AND (("substr"("ca_zip", 1, 5) IN ('85669'   , '86197'   , '88274'   , '83405'   , '86475'   , '85392'   , '85460'   , '80348'   , '81792'))
      OR ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_item_sk" IN (2      , 3      , 5      , 7      , 11      , 13      , 17      , 19      , 23      , 29))
   )))
   AND ("ws_sold_date_sk" = "d_date_sk")
   AND ("d_qoy" = 2)
   AND ("d_year" = 2001)
GROUP BY "ca_zip", "ca_city"
ORDER BY "ca_zip" ASC, "ca_city" ASC
LIMIT 100
"""

_add("q45", _TEXT_Q45, "TPC-DS q45: web revenue by zip/city for listed zips or listed items (vendored: testing/trino-benchmark-queries/.../tpcds/q45.sql).")


_TEXT_Q46 = r"""
SELECT
  "c_last_name"
, "c_first_name"
, "ca_city"
, "bought_city"
, "ss_ticket_number"
, "amt"
, "profit"
FROM
  (
   SELECT
     "ss_ticket_number"
   , "ss_customer_sk"
   , "ca_city" "bought_city"
   , CAST("sum"("ss_coupon_amt") AS DOUBLE) "amt"
   , CAST("sum"("ss_net_profit") AS DOUBLE) "profit"
   FROM
     store_sales
   , date_dim
   , store
   , household_demographics
   , customer_address
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_store_sk" = "store"."s_store_sk")
      AND ("store_sales"."ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("store_sales"."ss_addr_sk" = "customer_address"."ca_address_sk")
      AND (("household_demographics"."hd_dep_count" = 4)
         OR ("household_demographics"."hd_vehicle_count" = 3))
      AND ("date_dim"."d_dow" IN (6   , 0))
      AND ("date_dim"."d_year" IN (1999   , (1999 + 1)   , (1999 + 2)))
      AND ("store"."s_city" IN ('Fairview'   , 'Midway'   , 'Fairview'   , 'Fairview'   , 'Fairview'))
   GROUP BY "ss_ticket_number", "ss_customer_sk", "ss_addr_sk", "ca_city"
)  dn
, customer
, customer_address current_addr
WHERE ("ss_customer_sk" = "c_customer_sk")
   AND ("customer"."c_current_addr_sk" = "current_addr"."ca_address_sk")
   AND ("current_addr"."ca_city" <> "bought_city")
ORDER BY "c_last_name" ASC, "c_first_name" ASC, "ca_city" ASC, "bought_city" ASC, "ss_ticket_number" ASC
LIMIT 100
"""

_add("q46", _TEXT_Q46, "TPC-DS q46: weekend city purchases where bought city differs from home city (double customer_address join) (vendored: testing/trino-benchmark-queries/.../tpcds/q46.sql).")


_TEXT_Q47 = r"""
WITH
  v1 AS (
   SELECT
     "i_category"
   , "i_brand"
   , "s_store_name"
   , "s_company_name"
   , "d_year"
   , "d_moy"
   , CAST("sum"("ss_sales_price") AS DOUBLE) "sum_sales"
   , (floor((2 * CAST(("sum"("sum"("ss_sales_price")) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name", "d_year")) * 1000 AS BIGINT) + ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name", "d_year"))) / (2e0 * ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name", "d_year")))) / 1e3) "avg_monthly_sales"
   , "rank"() OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name" ORDER BY "d_year" ASC, "d_moy" ASC) "rn"
   FROM
     item
   , store_sales
   , date_dim
   , store
   WHERE ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND (("d_year" = 1999)
         OR (("d_year" = (1999 - 1))
            AND ("d_moy" = 12))
         OR (("d_year" = (1999 + 1))
            AND ("d_moy" = 1)))
   GROUP BY "i_category", "i_brand", "s_store_name", "s_company_name", "d_year", "d_moy"
) 
, v2 AS (
   SELECT
     "v1"."i_category"
   , "v1"."i_brand"
   , "v1"."s_store_name"
   , "v1"."s_company_name"
   , "v1"."d_year"
   , "v1"."d_moy"
   , "v1"."avg_monthly_sales"
   , "v1"."sum_sales"
   , "v1_lag"."sum_sales" "psum"
   , "v1_lead"."sum_sales" "nsum"
   FROM
     v1
   , v1 v1_lag
   , v1 v1_lead
   WHERE ("v1"."i_category" = "v1_lag"."i_category")
      AND ("v1"."i_category" = "v1_lead"."i_category")
      AND ("v1"."i_brand" = "v1_lag"."i_brand")
      AND ("v1"."i_brand" = "v1_lead"."i_brand")
      AND ("v1"."s_store_name" = "v1_lag"."s_store_name")
      AND ("v1"."s_store_name" = "v1_lead"."s_store_name")
      AND ("v1"."s_company_name" = "v1_lag"."s_company_name")
      AND ("v1"."s_company_name" = "v1_lead"."s_company_name")
      AND ("v1"."rn" = ("v1_lag"."rn" + 1))
      AND ("v1"."rn" = ("v1_lead"."rn" - 1))
) 
SELECT *
FROM
  v2
WHERE ("d_year" = 1999)
   AND ("avg_monthly_sales" > 0)
   AND ((CASE WHEN ("avg_monthly_sales" > 0) THEN ("abs"(("sum_sales" - "avg_monthly_sales")) / "avg_monthly_sales") ELSE null END) > DECIMAL '0.1')
ORDER BY ("sum_sales" - "avg_monthly_sales") ASC, 3 ASC
LIMIT 100
"""

_add("q47", _TEXT_Q47, "TPC-DS q47: store-brand monthly sales vs yearly average with lag/lead neighbors (v1 referenced 3x) (vendored: testing/trino-benchmark-queries/.../tpcds/q47.sql).")


_TEXT_Q48 = r"""
SELECT CAST("sum"("ss_quantity") AS BIGINT) "sum_qty"
FROM
  store_sales
, store
, customer_demographics
, customer_address
, date_dim
WHERE ("s_store_sk" = "ss_store_sk")
   AND ("ss_sold_date_sk" = "d_date_sk")
   AND ("d_year" = 2000)
   AND ((("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'M')
         AND ("cd_education_status" = '4 yr Degree')
         AND ("ss_sales_price" BETWEEN DECIMAL '100.00' AND DECIMAL '150.00'))
      OR (("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'D')
         AND ("cd_education_status" = '2 yr Degree')
         AND ("ss_sales_price" BETWEEN DECIMAL '50.00' AND DECIMAL '100.00'))
      OR (("cd_demo_sk" = "ss_cdemo_sk")
         AND ("cd_marital_status" = 'S')
         AND ("cd_education_status" = 'College')
         AND ("ss_sales_price" BETWEEN DECIMAL '150.00' AND DECIMAL '200.00')))
   AND ((("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('CO'      , 'OH'      , 'TX'))
         AND ("ss_net_profit" BETWEEN 0 AND 2000))
      OR (("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('OR'      , 'MN'      , 'KY'))
         AND ("ss_net_profit" BETWEEN 150 AND 3000))
      OR (("ss_addr_sk" = "ca_address_sk")
         AND ("ca_country" = 'United States')
         AND ("ca_state" IN ('VA'      , 'CA'      , 'MS'))
         AND ("ss_net_profit" BETWEEN 50 AND 25000)))
"""

_add("q48", _TEXT_Q48, "TPC-DS q48: store quantity total under disjunctive demographic x address x price-band blocks (vendored: testing/trino-benchmark-queries/.../tpcds/q48.sql).")


_TEXT_Q49 = r"""
SELECT
  'web' "channel"
, "web"."item"
, "web"."return_ratio"
, "web"."return_rank"
, "web"."currency_rank"
FROM
  (
   SELECT
     "item"
   , "return_ratio"
   , "currency_ratio"
   , "rank"() OVER (ORDER BY "return_ratio" ASC) "return_rank"
   , "rank"() OVER (ORDER BY "currency_ratio" ASC) "currency_rank"
   FROM
     (
      SELECT
        "ws"."ws_item_sk" "item"
      , (CAST("sum"(COALESCE("wr"."wr_return_quantity", 0)) AS DOUBLE) / CAST("sum"(COALESCE("ws"."ws_quantity", 0)) AS DOUBLE)) "return_ratio"
      , (CAST("sum"(COALESCE("wr"."wr_return_amt", 0)) AS DOUBLE) / CAST("sum"(COALESCE("ws"."ws_net_paid", 0)) AS DOUBLE)) "currency_ratio"
      FROM
        (web_sales ws
      LEFT JOIN web_returns wr ON ("ws"."ws_order_number" = "wr"."wr_order_number")
         AND ("ws"."ws_item_sk" = "wr"."wr_item_sk"))
      , date_dim
      WHERE ("wr"."wr_return_amt" > 10000)
         AND ("ws"."ws_net_profit" > 1)
         AND ("ws"."ws_net_paid" > 0)
         AND ("ws"."ws_quantity" > 0)
         AND ("ws_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2001)
         AND ("d_moy" = 12)
      GROUP BY "ws"."ws_item_sk"
   )  in_web
)  web
WHERE ("web"."return_rank" <= 10)
   OR ("web"."currency_rank" <= 10)
UNION SELECT
  'catalog' "channel"
, "catalog"."item"
, "catalog"."return_ratio"
, "catalog"."return_rank"
, "catalog"."currency_rank"
FROM
  (
   SELECT
     "item"
   , "return_ratio"
   , "currency_ratio"
   , "rank"() OVER (ORDER BY "return_ratio" ASC) "return_rank"
   , "rank"() OVER (ORDER BY "currency_ratio" ASC) "currency_rank"
   FROM
     (
      SELECT
        "cs"."cs_item_sk" "item"
      , (CAST("sum"(COALESCE("cr"."cr_return_quantity", 0)) AS DOUBLE) / CAST("sum"(COALESCE("cs"."cs_quantity", 0)) AS DOUBLE)) "return_ratio"
      , (CAST("sum"(COALESCE("cr"."cr_return_amount", 0)) AS DOUBLE) / CAST("sum"(COALESCE("cs"."cs_net_paid", 0)) AS DOUBLE)) "currency_ratio"
      FROM
        (catalog_sales cs
      LEFT JOIN catalog_returns cr ON ("cs"."cs_order_number" = "cr"."cr_order_number")
         AND ("cs"."cs_item_sk" = "cr"."cr_item_sk"))
      , date_dim
      WHERE ("cr"."cr_return_amount" > 10000)
         AND ("cs"."cs_net_profit" > 1)
         AND ("cs"."cs_net_paid" > 0)
         AND ("cs"."cs_quantity" > 0)
         AND ("cs_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2001)
         AND ("d_moy" = 12)
      GROUP BY "cs"."cs_item_sk"
   )  in_cat
)  "CATALOG"
WHERE ("catalog"."return_rank" <= 10)
   OR ("catalog"."currency_rank" <= 10)
UNION SELECT
  'store' "channel"
, "store"."item"
, "store"."return_ratio"
, "store"."return_rank"
, "store"."currency_rank"
FROM
  (
   SELECT
     "item"
   , "return_ratio"
   , "currency_ratio"
   , "rank"() OVER (ORDER BY "return_ratio" ASC) "return_rank"
   , "rank"() OVER (ORDER BY "currency_ratio" ASC) "currency_rank"
   FROM
     (
      SELECT
        "sts"."ss_item_sk" "item"
      , (CAST("sum"(COALESCE("sr"."sr_return_quantity", 0)) AS DOUBLE) / CAST("sum"(COALESCE("sts"."ss_quantity", 0)) AS DOUBLE)) "return_ratio"
      , (CAST("sum"(COALESCE("sr"."sr_return_amt", 0)) AS DOUBLE) / CAST("sum"(COALESCE("sts"."ss_net_paid", 0)) AS DOUBLE)) "currency_ratio"
      FROM
        (store_sales sts
      LEFT JOIN store_returns sr ON ("sts"."ss_ticket_number" = "sr"."sr_ticket_number")
         AND ("sts"."ss_item_sk" = "sr"."sr_item_sk"))
      , date_dim
      WHERE ("sr"."sr_return_amt" > 10000)
         AND ("sts"."ss_net_profit" > 1)
         AND ("sts"."ss_net_paid" > 0)
         AND ("sts"."ss_quantity" > 0)
         AND ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_year" = 2001)
         AND ("d_moy" = 12)
      GROUP BY "sts"."ss_item_sk"
   )  in_store
)  store
WHERE ("store"."return_rank" <= 10)
   OR ("store"."currency_rank" <= 10)
ORDER BY 1 ASC, 4 ASC, 5 ASC, 2 ASC
LIMIT 100
"""

_add("q49", _TEXT_Q49, "TPC-DS q49: worst return ratios per channel: dual rank() over quantity and currency ratios, 3-channel union (vendored: testing/trino-benchmark-queries/.../tpcds/q49.sql).")


_TEXT_Q50 = r"""
SELECT
  "s_store_name"
, "s_company_id"
, "s_street_number"
, "s_street_name"
, "s_street_type"
, "s_suite_number"
, "s_city"
, "s_county"
, "s_state"
, "s_zip"
, CAST("sum"((CASE WHEN (("sr_returned_date_sk" - "ss_sold_date_sk") <= 30) THEN 1 ELSE 0 END)) AS BIGINT) "30 days"
, CAST("sum"((CASE WHEN (("sr_returned_date_sk" - "ss_sold_date_sk") > 30)
   AND (("sr_returned_date_sk" - "ss_sold_date_sk") <= 60) THEN 1 ELSE 0 END)) AS BIGINT) "31-60 days"
, CAST("sum"((CASE WHEN (("sr_returned_date_sk" - "ss_sold_date_sk") > 60)
   AND (("sr_returned_date_sk" - "ss_sold_date_sk") <= 90) THEN 1 ELSE 0 END)) AS BIGINT) "61-90 days"
, CAST("sum"((CASE WHEN (("sr_returned_date_sk" - "ss_sold_date_sk") > 90)
   AND (("sr_returned_date_sk" - "ss_sold_date_sk") <= 120) THEN 1 ELSE 0 END)) AS BIGINT) "91-120 days"
, CAST("sum"((CASE WHEN (("sr_returned_date_sk" - "ss_sold_date_sk") > 120) THEN 1 ELSE 0 END)) AS BIGINT) ">120 days"
FROM
  store_sales
, store_returns
, store
, date_dim d1
, date_dim d2
WHERE ("d2"."d_year" = 2001)
   AND ("d2"."d_moy" = 8)
   AND ("ss_ticket_number" = "sr_ticket_number")
   AND ("ss_item_sk" = "sr_item_sk")
   AND ("ss_sold_date_sk" = "d1"."d_date_sk")
   AND ("sr_returned_date_sk" = "d2"."d_date_sk")
   AND ("ss_customer_sk" = "sr_customer_sk")
   AND ("ss_store_sk" = "s_store_sk")
GROUP BY "s_store_name", "s_company_id", "s_street_number", "s_street_name", "s_street_type", "s_suite_number", "s_city", "s_county", "s_state", "s_zip"
ORDER BY "s_store_name" ASC, "s_company_id" ASC, "s_street_number" ASC, "s_street_name" ASC, "s_street_type" ASC, "s_suite_number" ASC, "s_city" ASC, "s_county" ASC, "s_state" ASC, "s_zip" ASC
LIMIT 100
"""

_add("q50", _TEXT_Q50, "TPC-DS q50: store-returns latency buckets (30/60/90/120-day) per store, sale-to-return date deltas (vendored: testing/trino-benchmark-queries/.../tpcds/q50.sql).")


_TEXT_Q51 = r"""
WITH
  web_v1 AS (
   SELECT
     "ws_item_sk" "item_sk"
   , "d_date"
   , CAST("sum"("sum"("ws_sales_price")) OVER (PARTITION BY "ws_item_sk" ORDER BY "d_date" ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "cume_sales"
   FROM
     web_sales
   , date_dim
   WHERE ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
      AND ("ws_item_sk" IS NOT NULL)
   GROUP BY "ws_item_sk", "d_date"
) 
, store_v1 AS (
   SELECT
     "ss_item_sk" "item_sk"
   , "d_date"
   , CAST("sum"("sum"("ss_sales_price")) OVER (PARTITION BY "ss_item_sk" ORDER BY "d_date" ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "cume_sales"
   FROM
     store_sales
   , date_dim
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
      AND ("ss_item_sk" IS NOT NULL)
   GROUP BY "ss_item_sk", "d_date"
) 
SELECT *
FROM
  (
   SELECT
     "item_sk"
   , "d_date"
   , "web_rev"
   , "store_rev"
   , "max"("web_rev") OVER (PARTITION BY "item_sk" ORDER BY "d_date" ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "web_cumulative"
   , "max"("store_rev") OVER (PARTITION BY "item_sk" ORDER BY "d_date" ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "store_cumulative"
   FROM
     (
      SELECT
        (CASE WHEN ("web"."item_sk" IS NOT NULL) THEN "web"."item_sk" ELSE "store"."item_sk" END) "item_sk"
      , CAST((CASE WHEN ("web"."d_date" IS NOT NULL) THEN "web"."d_date" ELSE "store"."d_date" END) AS TIMESTAMP) "d_date"
      , "web"."cume_sales" "web_rev"
      , "store"."cume_sales" "store_rev"
      FROM
        (web_v1 web
      FULL JOIN store_v1 store ON ("web"."item_sk" = "store"."item_sk")
         AND ("web"."d_date" = "store"."d_date"))
   )  x
)  y
WHERE ("web_cumulative" > "store_cumulative")
ORDER BY "item_sk" ASC, "d_date" ASC
LIMIT 100
"""

_add("q51", _TEXT_Q51, "TPC-DS q51: cumulative web vs store revenue per item/day: windowed sums over a FULL OUTER JOIN (vendored: testing/trino-benchmark-queries/.../tpcds/q51.sql).")


_TEXT_Q52 = r"""
SELECT
  "dt"."d_year"
, "item"."i_brand_id" "brand_id"
, "item"."i_brand" "brand"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "ext_price"
FROM
  date_dim dt
, store_sales
, item
WHERE ("dt"."d_date_sk" = "store_sales"."ss_sold_date_sk")
   AND ("store_sales"."ss_item_sk" = "item"."i_item_sk")
   AND ("item"."i_manager_id" = 1)
   AND ("dt"."d_moy" = 11)
   AND ("dt"."d_year" = 2000)
GROUP BY "dt"."d_year", "item"."i_brand", "item"."i_brand_id"
ORDER BY "dt"."d_year" ASC, "ext_price" DESC, "brand_id" ASC
LIMIT 100
"""

_add("q52", _TEXT_Q52, "TPC-DS q52: brand extended price, November 2000 (vendored: testing/trino-benchmark-queries/.../tpcds/q52.sql).")


_TEXT_Q53 = r"""
SELECT *
FROM
  (
   SELECT
     "i_manufact_id"
   , CAST("sum"("ss_sales_price") AS DOUBLE) "sum_sales"
   , (floor((2 * CAST(("sum"("sum"("ss_sales_price")) OVER (PARTITION BY "i_manufact_id")) * 1000 AS BIGINT) + ("count"(*) OVER (PARTITION BY "i_manufact_id"))) / (2e0 * ("count"(*) OVER (PARTITION BY "i_manufact_id")))) / 1e3) "avg_quarterly_sales"
   FROM
     item
   , store_sales
   , date_dim
   , store
   WHERE ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("d_month_seq" IN (1200   , (1200 + 1)   , (1200 + 2)   , (1200 + 3)   , (1200 + 4)   , (1200 + 5)   , (1200 + 6)   , (1200 + 7)   , (1200 + 8)   , (1200 + 9)   , (1200 + 10)   , (1200 + 11)))
      AND ((("i_category" IN ('Books'         , 'Children'         , 'Electronics'))
            AND ("i_class" IN ('personal'         , 'portable'         , 'reference'         , 'self-help'))
            AND ("i_brand" IN ('scholaramalgamalg #14'         , 'scholaramalgamalg #7'         , 'exportiunivamalg #9'         , 'scholaramalgamalg #9')))
         OR (("i_category" IN ('Women'         , 'Music'         , 'Men'))
            AND ("i_class" IN ('accessories'         , 'classical'         , 'fragrances'         , 'pants'))
            AND ("i_brand" IN ('amalgimporto #1'         , 'edu packscholar #1'         , 'exportiimporto #1'         , 'importoamalg #1'))))
   GROUP BY "i_manufact_id", "d_qoy"
)  tmp1
WHERE ((CASE WHEN ("avg_quarterly_sales" > 0) THEN ("abs"(("sum_sales" - "avg_quarterly_sales")) / "avg_quarterly_sales") ELSE null END) > DECIMAL '0.1')
ORDER BY "avg_quarterly_sales" ASC, "sum_sales" ASC, "i_manufact_id" ASC
LIMIT 100
"""

_add("q53", _TEXT_Q53, "TPC-DS q53: quarterly manufacturer sales vs manufacturer average (window over grouped sums) (vendored: testing/trino-benchmark-queries/.../tpcds/q53.sql).")


_TEXT_Q54 = r"""
WITH
  my_customers AS (
   SELECT DISTINCT
     "c_customer_sk"
   , "c_current_addr_sk"
   FROM
     (
      SELECT
        "cs_sold_date_sk" "sold_date_sk"
      , "cs_bill_customer_sk" "customer_sk"
      , "cs_item_sk" "item_sk"
      FROM
        catalog_sales
UNION ALL       SELECT
        "ws_sold_date_sk" "sold_date_sk"
      , "ws_bill_customer_sk" "customer_sk"
      , "ws_item_sk" "item_sk"
      FROM
        web_sales
   )  cs_or_ws_sales
   , item
   , date_dim
   , customer
   WHERE ("sold_date_sk" = "d_date_sk")
      AND ("item_sk" = "i_item_sk")
      AND ("i_category" = 'Women')
      AND ("i_class" = 'maternity')
      AND ("c_customer_sk" = "cs_or_ws_sales"."customer_sk")
      AND ("d_moy" = 12)
      AND ("d_year" = 1998)
) 
, my_revenue AS (
   SELECT
     "c_customer_sk"
   , "sum"("ss_ext_sales_price") "revenue"
   FROM
     my_customers
   , store_sales
   , customer_address
   , store
   , date_dim
   WHERE ("c_current_addr_sk" = "ca_address_sk")
      AND ("ca_county" = "s_county")
      AND ("ca_state" = "s_state")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("c_customer_sk" = "ss_customer_sk")
      AND ("d_month_seq" BETWEEN (
      SELECT DISTINCT ("d_month_seq" + 1)
      FROM
        date_dim
      WHERE ("d_year" = 1998)
         AND ("d_moy" = 12)
   ) AND (
      SELECT DISTINCT ("d_month_seq" + 3)
      FROM
        date_dim
      WHERE ("d_year" = 1998)
         AND ("d_moy" = 12)
   ))
   GROUP BY "c_customer_sk"
) 
, segments AS (
   SELECT CAST(floor(CAST("revenue" AS DOUBLE) / 50) AS INTEGER) "segment"
   FROM
     my_revenue
) 
SELECT
  "segment"
, "count"(*) "num_customers"
, ("segment" * 50) "segment_base"
FROM
  segments
GROUP BY "segment"
ORDER BY "segment" ASC, "num_customers" ASC
LIMIT 100
"""

_add("q54", _TEXT_Q54, "TPC-DS q54: maternity-buyer revenue segments: cross-channel customer set -> 3-month store revenue -> 50-dollar buckets (vendored: testing/trino-benchmark-queries/.../tpcds/q54.sql).")


_TEXT_Q55 = r"""
SELECT
  "i_brand_id" "brand_id"
, "i_brand" "brand"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "ext_price"
FROM
  date_dim
, store_sales
, item
WHERE ("d_date_sk" = "ss_sold_date_sk")
   AND ("ss_item_sk" = "i_item_sk")
   AND ("i_manager_id" = 28)
   AND ("d_moy" = 11)
   AND ("d_year" = 1999)
GROUP BY "i_brand", "i_brand_id"
ORDER BY "ext_price" DESC, "i_brand_id" ASC
LIMIT 100
"""

_add("q55", _TEXT_Q55, "TPC-DS q55: brand revenue for one manager, November 1999 (vendored: testing/trino-benchmark-queries/.../tpcds/q55.sql).")


_TEXT_Q56 = r"""
WITH
  ss AS (
   SELECT
     "i_item_id"
   , "sum"("ss_ext_sales_price") "total_sales"
   FROM
     store_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_color" IN ('slate'      , 'blanched'      , 'burnished'))
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" = 2)
      AND ("ss_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
, cs AS (
   SELECT
     "i_item_id"
   , "sum"("cs_ext_sales_price") "total_sales"
   FROM
     catalog_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_color" IN ('slate'      , 'blanched'      , 'burnished'))
   ))
      AND ("cs_item_sk" = "i_item_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" = 2)
      AND ("cs_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
, ws AS (
   SELECT
     "i_item_id"
   , "sum"("ws_ext_sales_price") "total_sales"
   FROM
     web_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_color" IN ('slate'      , 'blanched'      , 'burnished'))
   ))
      AND ("ws_item_sk" = "i_item_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" = 2)
      AND ("ws_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
SELECT
  "i_item_id"
, CAST("sum"("total_sales") AS DOUBLE) "total_sales"
FROM
  (
   SELECT *
   FROM
     ss
UNION ALL    SELECT *
   FROM
     cs
UNION ALL    SELECT *
   FROM
     ws
)  tmp1
GROUP BY "i_item_id"
ORDER BY "total_sales" ASC, "i_item_id" ASC
LIMIT 100
"""

_add("q56", _TEXT_Q56, "TPC-DS q56: per-item colored-item revenue across 3 channels (UNION ALL of 3 CTEs) (vendored: testing/trino-benchmark-queries/.../tpcds/q56.sql).")


_TEXT_Q57 = r"""
WITH
  v1 AS (
   SELECT
     "i_category"
   , "i_brand"
   , "cc_name"
   , "d_year"
   , "d_moy"
   , CAST("sum"("cs_sales_price") AS DOUBLE) "sum_sales"
   , (floor((2 * CAST(("sum"("sum"("cs_sales_price")) OVER (PARTITION BY "i_category", "i_brand", "cc_name", "d_year")) * 1000 AS BIGINT) + ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "cc_name", "d_year"))) / (2e0 * ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "cc_name", "d_year")))) / 1e3) "avg_monthly_sales"
   , "rank"() OVER (PARTITION BY "i_category", "i_brand", "cc_name" ORDER BY "d_year" ASC, "d_moy" ASC) "rn"
   FROM
     item
   , catalog_sales
   , date_dim
   , call_center
   WHERE ("cs_item_sk" = "i_item_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("cc_call_center_sk" = "cs_call_center_sk")
      AND (("d_year" = 1999)
         OR (("d_year" = (1999 - 1))
            AND ("d_moy" = 12))
         OR (("d_year" = (1999 + 1))
            AND ("d_moy" = 1)))
   GROUP BY "i_category", "i_brand", "cc_name", "d_year", "d_moy"
) 
, v2 AS (
   SELECT
     "v1"."i_category"
   , "v1"."i_brand"
   , "v1"."cc_name"
   , "v1"."d_year"
   , "v1"."d_moy"
   , "v1"."avg_monthly_sales"
   , "v1"."sum_sales"
   , "v1_lag"."sum_sales" "psum"
   , "v1_lead"."sum_sales" "nsum"
   FROM
     v1
   , v1 v1_lag
   , v1 v1_lead
   WHERE ("v1"."i_category" = "v1_lag"."i_category")
      AND ("v1"."i_category" = "v1_lead"."i_category")
      AND ("v1"."i_brand" = "v1_lag"."i_brand")
      AND ("v1"."i_brand" = "v1_lead"."i_brand")
      AND ("v1"."cc_name" = "v1_lag"."cc_name")
      AND ("v1"."cc_name" = "v1_lead"."cc_name")
      AND ("v1"."rn" = ("v1_lag"."rn" + 1))
      AND ("v1"."rn" = ("v1_lead"."rn" - 1))
) 
SELECT *
FROM
  v2
WHERE ("d_year" = 1999)
   AND ("avg_monthly_sales" > 0)
   AND ((CASE WHEN ("avg_monthly_sales" > 0) THEN ("abs"(("sum_sales" - "avg_monthly_sales")) / "avg_monthly_sales") ELSE null END) > DECIMAL '0.1')
ORDER BY ("sum_sales" - "avg_monthly_sales") ASC, 3 ASC
LIMIT 100
"""

_add("q57", _TEXT_Q57, "TPC-DS q57: call-center monthly sales vs yearly average with lag/lead neighbors (q47 on catalog) (vendored: testing/trino-benchmark-queries/.../tpcds/q57.sql).")


_TEXT_Q58 = r"""
WITH
  ss_items AS (
   SELECT
     "i_item_id" "item_id"
   , "sum"("ss_ext_sales_price") "ss_item_rev"
   FROM
     store_sales
   , item
   , date_dim
   WHERE ("ss_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" = (
            SELECT "d_week_seq"
            FROM
              date_dim
            WHERE ("d_date" = CAST('2000-01-03' AS DATE))
         ))
   ))
      AND ("ss_sold_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
, cs_items AS (
   SELECT
     "i_item_id" "item_id"
   , "sum"("cs_ext_sales_price") "cs_item_rev"
   FROM
     catalog_sales
   , item
   , date_dim
   WHERE ("cs_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" = (
            SELECT "d_week_seq"
            FROM
              date_dim
            WHERE ("d_date" = CAST('2000-01-03' AS DATE))
         ))
   ))
      AND ("cs_sold_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
, ws_items AS (
   SELECT
     "i_item_id" "item_id"
   , "sum"("ws_ext_sales_price") "ws_item_rev"
   FROM
     web_sales
   , item
   , date_dim
   WHERE ("ws_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" = (
            SELECT "d_week_seq"
            FROM
              date_dim
            WHERE ("d_date" = CAST('2000-01-03' AS DATE))
         ))
   ))
      AND ("ws_sold_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
SELECT
  "ss_items"."item_id"
, CAST("ss_item_rev" AS DOUBLE) "ss_item_rev"
, (floor(((CAST("ss_item_rev" AS DOUBLE) / CAST(("ss_item_rev" + "cs_item_rev" + "ws_item_rev") AS DOUBLE)) / 3e0) * 100 * 100 + 0.5) / 1e2) "ss_dev"
, CAST("cs_item_rev" AS DOUBLE) "cs_item_rev"
, (floor(((CAST("cs_item_rev" AS DOUBLE) / CAST(("ss_item_rev" + "cs_item_rev" + "ws_item_rev") AS DOUBLE)) / 3e0) * 100 * 100 + 0.5) / 1e2) "cs_dev"
, CAST("ws_item_rev" AS DOUBLE) "ws_item_rev"
, (floor(((CAST("ws_item_rev" AS DOUBLE) / CAST(("ss_item_rev" + "cs_item_rev" + "ws_item_rev") AS DOUBLE)) / 3e0) * 100 * 100 + 0.5) / 1e2) "ws_dev"
, (floor((CAST(("ss_item_rev" + "cs_item_rev" + "ws_item_rev") AS DOUBLE) / 3e0) * 10000 + 0.5) / 1e4) "average"
FROM
  ss_items
, cs_items
, ws_items
WHERE ("ss_items"."item_id" = "cs_items"."item_id")
   AND ("ss_items"."item_id" = "ws_items"."item_id")
   AND ("ss_item_rev" BETWEEN (DECIMAL '0.9' * "cs_item_rev") AND (DECIMAL '1.1' * "cs_item_rev"))
   AND ("ss_item_rev" BETWEEN (DECIMAL '0.9' * "ws_item_rev") AND (DECIMAL '1.1' * "ws_item_rev"))
   AND ("cs_item_rev" BETWEEN (DECIMAL '0.9' * "ss_item_rev") AND (DECIMAL '1.1' * "ss_item_rev"))
   AND ("cs_item_rev" BETWEEN (DECIMAL '0.9' * "ws_item_rev") AND (DECIMAL '1.1' * "ws_item_rev"))
   AND ("ws_item_rev" BETWEEN (DECIMAL '0.9' * "ss_item_rev") AND (DECIMAL '1.1' * "ss_item_rev"))
   AND ("ws_item_rev" BETWEEN (DECIMAL '0.9' * "cs_item_rev") AND (DECIMAL '1.1' * "cs_item_rev"))
ORDER BY "ss_items"."item_id" ASC, "ss_item_rev" ASC
LIMIT 100
"""

_add("q58", _TEXT_Q58, "TPC-DS q58: items with balanced 3-channel revenue on one day (3 CTEs, 6 BETWEEN bounds) (vendored: testing/trino-benchmark-queries/.../tpcds/q58.sql).")


_TEXT_Q59 = r"""
WITH
  wss AS (
   SELECT
     "d_week_seq"
   , "ss_store_sk"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Sunday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "sun_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Monday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "mon_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Tuesday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "tue_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Wednesday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "wed_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Thursday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "thu_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Friday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "fri_sales"
   , CAST("sum"((CASE WHEN ("d_day_name" = 'Saturday') THEN "ss_sales_price" ELSE null END)) AS DOUBLE) "sat_sales"
   FROM
     store_sales
   , date_dim
   WHERE ("d_date_sk" = "ss_sold_date_sk")
   GROUP BY "d_week_seq", "ss_store_sk"
) 
SELECT
  "s_store_name1"
, "s_store_id1"
, "d_week_seq1"
, ("sun_sales1" / "sun_sales2") "sun_ratio"
, ("mon_sales1" / "mon_sales2") "mon_ratio"
, ("tue_sales1" / "tue_sales2") "tue_ratio"
, ("wed_sales1" / "wed_sales2") "wed_ratio"
, ("thu_sales1" / "thu_sales2") "thu_ratio"
, ("fri_sales1" / "fri_sales2") "fri_ratio"
, ("sat_sales1" / "sat_sales2") "sat_ratio"
FROM
  (
   SELECT
     "s_store_name" "s_store_name1"
   , "wss"."d_week_seq" "d_week_seq1"
   , "s_store_id" "s_store_id1"
   , "sun_sales" "sun_sales1"
   , "mon_sales" "mon_sales1"
   , "tue_sales" "tue_sales1"
   , "wed_sales" "wed_sales1"
   , "thu_sales" "thu_sales1"
   , "fri_sales" "fri_sales1"
   , "sat_sales" "sat_sales1"
   FROM
     wss
   , store
   , date_dim d
   WHERE ("d"."d_week_seq" = "wss"."d_week_seq")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("d_month_seq" BETWEEN 1212 AND (1212 + 11))
)  y
, (
   SELECT
     "s_store_name" "s_store_name2"
   , "wss"."d_week_seq" "d_week_seq2"
   , "s_store_id" "s_store_id2"
   , "sun_sales" "sun_sales2"
   , "mon_sales" "mon_sales2"
   , "tue_sales" "tue_sales2"
   , "wed_sales" "wed_sales2"
   , "thu_sales" "thu_sales2"
   , "fri_sales" "fri_sales2"
   , "sat_sales" "sat_sales2"
   FROM
     wss
   , store
   , date_dim d
   WHERE ("d"."d_week_seq" = "wss"."d_week_seq")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("d_month_seq" BETWEEN (1212 + 12) AND (1212 + 23))
)  x
WHERE ("s_store_id1" = "s_store_id2")
   AND ("d_week_seq1" = ("d_week_seq2" - 52))
ORDER BY "s_store_name1" ASC, "s_store_id1" ASC, "d_week_seq1" ASC
LIMIT 100
"""

_add("q59", _TEXT_Q59, "TPC-DS q59: week-over-week per-store day-of-week sales ratios: wss CTE self-joined at a 52-week offset (vendored: testing/trino-benchmark-queries/.../tpcds/q59.sql).")


_TEXT_Q60 = r"""
WITH
  ss AS (
   SELECT
     "i_item_id"
   , "sum"("ss_ext_sales_price") "total_sales"
   FROM
     store_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_category" IN ('Music'))
   ))
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 9)
      AND ("ss_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
, cs AS (
   SELECT
     "i_item_id"
   , "sum"("cs_ext_sales_price") "total_sales"
   FROM
     catalog_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_category" IN ('Music'))
   ))
      AND ("cs_item_sk" = "i_item_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 9)
      AND ("cs_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
, ws AS (
   SELECT
     "i_item_id"
   , "sum"("ws_ext_sales_price") "total_sales"
   FROM
     web_sales
   , date_dim
   , customer_address
   , item
   WHERE ("i_item_id" IN (
      SELECT "i_item_id"
      FROM
        item
      WHERE ("i_category" IN ('Music'))
   ))
      AND ("ws_item_sk" = "i_item_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 1998)
      AND ("d_moy" = 9)
      AND ("ws_bill_addr_sk" = "ca_address_sk")
      AND ("ca_gmt_offset" = -5)
   GROUP BY "i_item_id"
) 
SELECT
  "i_item_id"
, CAST("sum"("total_sales") AS DOUBLE) "total_sales"
FROM
  (
   SELECT *
   FROM
     ss
UNION ALL    SELECT *
   FROM
     cs
UNION ALL    SELECT *
   FROM
     ws
)  tmp1
GROUP BY "i_item_id"
ORDER BY "i_item_id" ASC, "total_sales" ASC
LIMIT 100
"""

_add("q60", _TEXT_Q60, "TPC-DS q60: per-item Music-category revenue across 3 channels (vendored: testing/trino-benchmark-queries/.../tpcds/q60.sql).")


_TEXT_Q61 = r"""
SELECT
  "promotions"
, "total"
, (floor((((CAST("promotions" AS DOUBLE) / CAST("total" AS DOUBLE)) * 100)) * 1000000 + 0.5) / 1e6) "promo_pct"
FROM
  (
   SELECT CAST("sum"("ss_ext_sales_price") AS DOUBLE) "promotions"
   FROM
     store_sales
   , store
   , promotion
   , date_dim
   , customer
   , customer_address
   , item
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("ss_promo_sk" = "p_promo_sk")
      AND ("ss_customer_sk" = "c_customer_sk")
      AND ("ca_address_sk" = "c_current_addr_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ca_gmt_offset" = -5)
      AND ("i_category" = 'Jewelry')
      AND (("p_channel_dmail" = 'Y')
         OR ("p_channel_email" = 'Y')
         OR ("p_channel_tv" = 'Y'))
      AND ("s_gmt_offset" = -5)
      AND ("d_year" = 1998)
      AND ("d_moy" = 11)
)  promotional_sales
, (
   SELECT CAST("sum"("ss_ext_sales_price") AS DOUBLE) "total"
   FROM
     store_sales
   , store
   , date_dim
   , customer
   , customer_address
   , item
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("ss_customer_sk" = "c_customer_sk")
      AND ("ca_address_sk" = "c_current_addr_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ca_gmt_offset" = -5)
      AND ("i_category" = 'Jewelry')
      AND ("s_gmt_offset" = -5)
      AND ("d_year" = 1998)
      AND ("d_moy" = 11)
)  all_sales
ORDER BY "promotions" ASC, "total" ASC
LIMIT 100
"""

_add("q61", _TEXT_Q61, "TPC-DS q61: promotional-channel revenue share: two scalar subqueries cross-joined into a ratio (vendored: testing/trino-benchmark-queries/.../tpcds/q61.sql).")


_TEXT_Q62 = r"""
SELECT
  "substr"("w_warehouse_name", 1, 20)
 "wh_20"
, "sm_type"
, "web_name"
, CAST("sum"((CASE WHEN (("ws_ship_date_sk" - "ws_sold_date_sk") <= 30) THEN 1 ELSE 0 END)) AS BIGINT) "30 days"
, CAST("sum"((CASE WHEN (("ws_ship_date_sk" - "ws_sold_date_sk") > 30)
   AND (("ws_ship_date_sk" - "ws_sold_date_sk") <= 60) THEN 1 ELSE 0 END)) AS BIGINT) "31-60 days"
, CAST("sum"((CASE WHEN (("ws_ship_date_sk" - "ws_sold_date_sk") > 60)
   AND (("ws_ship_date_sk" - "ws_sold_date_sk") <= 90) THEN 1 ELSE 0 END)) AS BIGINT) "61-90 days"
, CAST("sum"((CASE WHEN (("ws_ship_date_sk" - "ws_sold_date_sk") > 90)
   AND (("ws_ship_date_sk" - "ws_sold_date_sk") <= 120) THEN 1 ELSE 0 END)) AS BIGINT) "91-120 days"
, CAST("sum"((CASE WHEN (("ws_ship_date_sk" - "ws_sold_date_sk") > 120) THEN 1 ELSE 0 END)) AS BIGINT) ">120 days"
FROM
  web_sales
, warehouse
, ship_mode
, web_site
, date_dim
WHERE ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   AND ("ws_ship_date_sk" = "d_date_sk")
   AND ("ws_warehouse_sk" = "w_warehouse_sk")
   AND ("ws_ship_mode_sk" = "sm_ship_mode_sk")
   AND ("ws_web_site_sk" = "web_site_sk")
GROUP BY "substr"("w_warehouse_name", 1, 20), "sm_type", "web_name"
ORDER BY "substr"("w_warehouse_name", 1, 20) ASC, "sm_type" ASC, "web_name" ASC
LIMIT 100
"""

_add("q62", _TEXT_Q62, "TPC-DS q62: web ship-latency buckets by warehouse/ship-mode/site (vendored: testing/trino-benchmark-queries/.../tpcds/q62.sql).")


_TEXT_Q63 = r"""
SELECT *
FROM
  (
   SELECT
     "i_manager_id"
   , CAST("sum"("ss_sales_price") AS DOUBLE) "sum_sales"
   , (floor((2 * CAST(("sum"("sum"("ss_sales_price")) OVER (PARTITION BY "i_manager_id")) * 1000 AS BIGINT) + ("count"(*) OVER (PARTITION BY "i_manager_id"))) / (2e0 * ("count"(*) OVER (PARTITION BY "i_manager_id")))) / 1e3) "avg_monthly_sales"
   FROM
     item
   , store_sales
   , date_dim
   , store
   WHERE ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("d_month_seq" IN (1200   , (1200 + 1)   , (1200 + 2)   , (1200 + 3)   , (1200 + 4)   , (1200 + 5)   , (1200 + 6)   , (1200 + 7)   , (1200 + 8)   , (1200 + 9)   , (1200 + 10)   , (1200 + 11)))
      AND ((("i_category" IN ('Books'         , 'Children'         , 'Electronics'))
            AND ("i_class" IN ('personal'         , 'portable'         , 'refernece'         , 'self-help'))
            AND ("i_brand" IN ('scholaramalgamalg #14'         , 'scholaramalgamalg #7'         , 'exportiunivamalg #9'         , 'scholaramalgamalg #9')))
         OR (("i_category" IN ('Women'         , 'Music'         , 'Men'))
            AND ("i_class" IN ('accessories'         , 'classical'         , 'fragrances'         , 'pants'))
            AND ("i_brand" IN ('amalgimporto #1'         , 'edu packscholar #1'         , 'exportiimporto #1'         , 'importoamalg #1'))))
   GROUP BY "i_manager_id", "d_moy"
)  tmp1
WHERE ((CASE WHEN ("avg_monthly_sales" > 0) THEN ("abs"(("sum_sales" - "avg_monthly_sales")) / "avg_monthly_sales") ELSE null END) > DECIMAL '0.1')
ORDER BY "i_manager_id" ASC, "avg_monthly_sales" ASC, "sum_sales" ASC
LIMIT 100
"""

_add("q63", _TEXT_Q63, "TPC-DS q63: monthly manager sales vs manager average (window over grouped sums) (vendored: testing/trino-benchmark-queries/.../tpcds/q63.sql).")


_TEXT_Q64 = r"""
WITH
  cs_ui AS (
   SELECT
     "cs_item_sk"
   , "sum"("cs_ext_list_price") "sale"
   , "sum"((("cr_refunded_cash" + "cr_reversed_charge") + "cr_store_credit")) "refund"
   FROM
     catalog_sales
   , catalog_returns
   WHERE ("cs_item_sk" = "cr_item_sk")
      AND ("cs_order_number" = "cr_order_number")
   GROUP BY "cs_item_sk"
   HAVING ("sum"("cs_ext_list_price") > (2 * "sum"((("cr_refunded_cash" + "cr_reversed_charge") + "cr_store_credit"))))
) 
, cross_sales AS (
   SELECT
     "i_product_name" "product_name"
   , "i_item_sk" "item_sk"
   , "s_store_name" "store_name"
   , "s_zip" "store_zip"
   , "ad1"."ca_street_number" "b_street_number"
   , "ad1"."ca_street_name" "b_street_name"
   , "ad1"."ca_city" "b_city"
   , "ad1"."ca_zip" "b_zip"
   , "ad2"."ca_street_number" "c_street_number"
   , "ad2"."ca_street_name" "c_street_name"
   , "ad2"."ca_city" "c_city"
   , "ad2"."ca_zip" "c_zip"
   , "d1"."d_year" "syear"
   , "d2"."d_year" "fsyear"
   , "d3"."d_year" "s2year"
   , "count"(*) "cnt"
   , CAST("sum"("ss_wholesale_cost") AS DOUBLE) "s1"
   , CAST("sum"("ss_list_price") AS DOUBLE) "s2"
   , CAST("sum"("ss_coupon_amt") AS DOUBLE) "s3"
   FROM
     store_sales
   , store_returns
   , cs_ui
   , date_dim d1
   , date_dim d2
   , date_dim d3
   , store
   , customer
   , customer_demographics cd1
   , customer_demographics cd2
   , promotion
   , household_demographics hd1
   , household_demographics hd2
   , customer_address ad1
   , customer_address ad2
   , income_band ib1
   , income_band ib2
   , item
   WHERE ("ss_store_sk" = "s_store_sk")
      AND ("ss_sold_date_sk" = "d1"."d_date_sk")
      AND ("ss_customer_sk" = "c_customer_sk")
      AND ("ss_cdemo_sk" = "cd1"."cd_demo_sk")
      AND ("ss_hdemo_sk" = "hd1"."hd_demo_sk")
      AND ("ss_addr_sk" = "ad1"."ca_address_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("ss_item_sk" = "sr_item_sk")
      AND ("ss_ticket_number" = "sr_ticket_number")
      AND ("ss_item_sk" = "cs_ui"."cs_item_sk")
      AND ("c_current_cdemo_sk" = "cd2"."cd_demo_sk")
      AND ("c_current_hdemo_sk" = "hd2"."hd_demo_sk")
      AND ("c_current_addr_sk" = "ad2"."ca_address_sk")
      AND ("c_first_sales_date_sk" = "d2"."d_date_sk")
      AND ("c_first_shipto_date_sk" = "d3"."d_date_sk")
      AND ("ss_promo_sk" = "p_promo_sk")
      AND ("hd1"."hd_income_band_sk" = "ib1"."ib_income_band_sk")
      AND ("hd2"."hd_income_band_sk" = "ib2"."ib_income_band_sk")
      AND ("cd1"."cd_marital_status" <> "cd2"."cd_marital_status")
      AND ("i_color" IN ('purple'   , 'burlywood'   , 'indian'   , 'spring'   , 'floral'   , 'medium'))
      AND ("i_current_price" BETWEEN 64 AND (64 + 10))
      AND ("i_current_price" BETWEEN (64 + 1) AND (64 + 15))
   GROUP BY "i_product_name", "i_item_sk", "s_store_name", "s_zip", "ad1"."ca_street_number", "ad1"."ca_street_name", "ad1"."ca_city", "ad1"."ca_zip", "ad2"."ca_street_number", "ad2"."ca_street_name", "ad2"."ca_city", "ad2"."ca_zip", "d1"."d_year", "d2"."d_year", "d3"."d_year"
) 
SELECT
  "cs1"."product_name"
, "cs1"."store_name"
, "cs1"."store_zip"
, "cs1"."b_street_number"
, "cs1"."b_street_name"
, "cs1"."b_city"
, "cs1"."b_zip"
, "cs1"."c_street_number"
, "cs1"."c_street_name"
, "cs1"."c_city"
, "cs1"."c_zip"
, "cs1"."syear" "syear1"
, "cs1"."cnt" "cnt1"
, "cs1"."s1" "s11"
, "cs1"."s2" "s21"
, "cs1"."s3" "s31"
, "cs2"."s1" "s12"
, "cs2"."s2" "s22"
, "cs2"."s3" "s32"
, "cs2"."syear" "syear2"
, "cs2"."cnt" "cnt2"
FROM
  cross_sales cs1
, cross_sales cs2
WHERE ("cs1"."item_sk" = "cs2"."item_sk")
   AND ("cs1"."syear" = 1999)
   AND ("cs2"."syear" = (1999 + 1))
   AND ("cs2"."cnt" <= "cs1"."cnt")
   AND ("cs1"."store_name" = "cs2"."store_name")
   AND ("cs1"."store_zip" = "cs2"."store_zip")
ORDER BY "cs1"."product_name" ASC, "cs1"."store_name" ASC, "cs2"."cnt" ASC, 14, 15, 16, 17, 18
"""

_add("q64", _TEXT_Q64, "TPC-DS q64: the 18-relation monster: returned store sales x catalog-return-filtered items x two demographic/address/income-band role pairs, self-joined across years (vendored: testing/trino-benchmark-queries/.../tpcds/q64.sql).")


_TEXT_Q65 = r"""
SELECT
  "s_store_name"
, "i_item_desc"
, CAST("sc"."revenue" AS DOUBLE) "revenue"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
, CAST("i_wholesale_cost" AS DOUBLE) "i_wholesale_cost"
, "i_brand"
FROM
  store
, item
, (
   SELECT
     "ss_store_sk"
   , (CAST("sum"("revenue") AS DOUBLE) / "count"(*)) "ave"
   FROM
     (
      SELECT
        "ss_store_sk"
      , "ss_item_sk"
      , "sum"("ss_sales_price") "revenue"
      FROM
        store_sales
      , date_dim
      WHERE ("ss_sold_date_sk" = "d_date_sk")
         AND ("d_month_seq" BETWEEN 1176 AND (1176 + 11))
      GROUP BY "ss_store_sk", "ss_item_sk"
   )  sa
   GROUP BY "ss_store_sk"
)  sb
, (
   SELECT
     "ss_store_sk"
   , "ss_item_sk"
   , "sum"("ss_sales_price") "revenue"
   FROM
     store_sales
   , date_dim
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_month_seq" BETWEEN 1176 AND (1176 + 11))
   GROUP BY "ss_store_sk", "ss_item_sk"
)  sc
WHERE ("sb"."ss_store_sk" = "sc"."ss_store_sk")
   AND ("sc"."revenue" <= (DECIMAL '0.1' * "sb"."ave"))
   AND ("s_store_sk" = "sc"."ss_store_sk")
   AND ("i_item_sk" = "sc"."ss_item_sk")
ORDER BY "s_store_name" ASC, "i_item_desc" ASC,
   -- additional columns to assure results stability for larger scale factors; this is a deviation from TPC-DS specification
   "i_brand" ASC, "sc"."revenue" ASC
LIMIT 100
"""

_add("q65", _TEXT_Q65, "TPC-DS q65: store-item revenue at most 10% of the store average (two derived aggregates joined) (vendored: testing/trino-benchmark-queries/.../tpcds/q65.sql).")


_TEXT_Q66 = r"""
SELECT
  "w_warehouse_name"
, "w_warehouse_sq_ft"
, "w_city"
, "w_county"
, "w_state"
, "w_country"
, "ship_carriers"
, "year" "year"
, CAST("sum"("jan_sales") AS DOUBLE) "jan_sales"
, CAST("sum"("feb_sales") AS DOUBLE) "feb_sales"
, CAST("sum"("mar_sales") AS DOUBLE) "mar_sales"
, CAST("sum"("apr_sales") AS DOUBLE) "apr_sales"
, CAST("sum"("may_sales") AS DOUBLE) "may_sales"
, CAST("sum"("jun_sales") AS DOUBLE) "jun_sales"
, CAST("sum"("jul_sales") AS DOUBLE) "jul_sales"
, CAST("sum"("aug_sales") AS DOUBLE) "aug_sales"
, CAST("sum"("sep_sales") AS DOUBLE) "sep_sales"
, CAST("sum"("oct_sales") AS DOUBLE) "oct_sales"
, CAST("sum"("nov_sales") AS DOUBLE) "nov_sales"
, CAST("sum"("dec_sales") AS DOUBLE) "dec_sales"
, (CAST("sum"("jan_sales") AS DOUBLE) / "w_warehouse_sq_ft") "jan_sales_per_sq_foot"
, (CAST("sum"("feb_sales") AS DOUBLE) / "w_warehouse_sq_ft") "feb_sales_per_sq_foot"
, (CAST("sum"("mar_sales") AS DOUBLE) / "w_warehouse_sq_ft") "mar_sales_per_sq_foot"
, (CAST("sum"("apr_sales") AS DOUBLE) / "w_warehouse_sq_ft") "apr_sales_per_sq_foot"
, (CAST("sum"("may_sales") AS DOUBLE) / "w_warehouse_sq_ft") "may_sales_per_sq_foot"
, (CAST("sum"("jun_sales") AS DOUBLE) / "w_warehouse_sq_ft") "jun_sales_per_sq_foot"
, (CAST("sum"("jul_sales") AS DOUBLE) / "w_warehouse_sq_ft") "jul_sales_per_sq_foot"
, (CAST("sum"("aug_sales") AS DOUBLE) / "w_warehouse_sq_ft") "aug_sales_per_sq_foot"
, (CAST("sum"("sep_sales") AS DOUBLE) / "w_warehouse_sq_ft") "sep_sales_per_sq_foot"
, (CAST("sum"("oct_sales") AS DOUBLE) / "w_warehouse_sq_ft") "oct_sales_per_sq_foot"
, (CAST("sum"("nov_sales") AS DOUBLE) / "w_warehouse_sq_ft") "nov_sales_per_sq_foot"
, (CAST("sum"("dec_sales") AS DOUBLE) / "w_warehouse_sq_ft") "dec_sales_per_sq_foot"
, CAST("sum"("jan_net") AS DOUBLE) "jan_net"
, CAST("sum"("feb_net") AS DOUBLE) "feb_net"
, CAST("sum"("mar_net") AS DOUBLE) "mar_net"
, CAST("sum"("apr_net") AS DOUBLE) "apr_net"
, CAST("sum"("may_net") AS DOUBLE) "may_net"
, CAST("sum"("jun_net") AS DOUBLE) "jun_net"
, CAST("sum"("jul_net") AS DOUBLE) "jul_net"
, CAST("sum"("aug_net") AS DOUBLE) "aug_net"
, CAST("sum"("sep_net") AS DOUBLE) "sep_net"
, CAST("sum"("oct_net") AS DOUBLE) "oct_net"
, CAST("sum"("nov_net") AS DOUBLE) "nov_net"
, CAST("sum"("dec_net") AS DOUBLE) "dec_net"
FROM
(
      SELECT
        "w_warehouse_name"
      , "w_warehouse_sq_ft"
      , "w_city"
      , "w_county"
      , "w_state"
      , "w_country"
      , "concat"("concat"('DHL', ','), 'BARIAN') "ship_carriers"
      , "d_year" "YEAR"
      , "sum"((CASE WHEN ("d_moy" = 1) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "jan_sales"
      , "sum"((CASE WHEN ("d_moy" = 2) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "feb_sales"
      , "sum"((CASE WHEN ("d_moy" = 3) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "mar_sales"
      , "sum"((CASE WHEN ("d_moy" = 4) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "apr_sales"
      , "sum"((CASE WHEN ("d_moy" = 5) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "may_sales"
      , "sum"((CASE WHEN ("d_moy" = 6) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "jun_sales"
      , "sum"((CASE WHEN ("d_moy" = 7) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "jul_sales"
      , "sum"((CASE WHEN ("d_moy" = 8) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "aug_sales"
      , "sum"((CASE WHEN ("d_moy" = 9) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "sep_sales"
      , "sum"((CASE WHEN ("d_moy" = 10) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "oct_sales"
      , "sum"((CASE WHEN ("d_moy" = 11) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "nov_sales"
      , "sum"((CASE WHEN ("d_moy" = 12) THEN ("ws_ext_sales_price" * "ws_quantity") ELSE 0 END)) "dec_sales"
      , "sum"((CASE WHEN ("d_moy" = 1) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "jan_net"
      , "sum"((CASE WHEN ("d_moy" = 2) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "feb_net"
      , "sum"((CASE WHEN ("d_moy" = 3) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "mar_net"
      , "sum"((CASE WHEN ("d_moy" = 4) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "apr_net"
      , "sum"((CASE WHEN ("d_moy" = 5) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "may_net"
      , "sum"((CASE WHEN ("d_moy" = 6) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "jun_net"
      , "sum"((CASE WHEN ("d_moy" = 7) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "jul_net"
      , "sum"((CASE WHEN ("d_moy" = 8) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "aug_net"
      , "sum"((CASE WHEN ("d_moy" = 9) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "sep_net"
      , "sum"((CASE WHEN ("d_moy" = 10) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "oct_net"
      , "sum"((CASE WHEN ("d_moy" = 11) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "nov_net"
      , "sum"((CASE WHEN ("d_moy" = 12) THEN ("ws_net_paid" * "ws_quantity") ELSE 0 END)) "dec_net"
      FROM
        web_sales
      , warehouse
      , date_dim
      , time_dim
      , ship_mode
      WHERE ("ws_warehouse_sk" = "w_warehouse_sk")
         AND ("ws_sold_date_sk" = "d_date_sk")
         AND ("ws_sold_time_sk" = "t_time_sk")
         AND ("ws_ship_mode_sk" = "sm_ship_mode_sk")
         AND ("d_year" = 2001)
         AND ("t_time" BETWEEN 30838 AND (30838 + 28800))
         AND ("sm_carrier" IN ('DHL'      , 'BARIAN'))
      GROUP BY "w_warehouse_name", "w_warehouse_sq_ft", "w_city", "w_county", "w_state", "w_country", "d_year"
   UNION ALL
      SELECT
        "w_warehouse_name"
      , "w_warehouse_sq_ft"
      , "w_city"
      , "w_county"
      , "w_state"
      , "w_country"
      , "concat"("concat"('DHL', ','), 'BARIAN') "ship_carriers"
      , "d_year" "YEAR"
      , "sum"((CASE WHEN ("d_moy" = 1) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "jan_sales"
      , "sum"((CASE WHEN ("d_moy" = 2) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "feb_sales"
      , "sum"((CASE WHEN ("d_moy" = 3) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "mar_sales"
      , "sum"((CASE WHEN ("d_moy" = 4) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "apr_sales"
      , "sum"((CASE WHEN ("d_moy" = 5) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "may_sales"
      , "sum"((CASE WHEN ("d_moy" = 6) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "jun_sales"
      , "sum"((CASE WHEN ("d_moy" = 7) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "jul_sales"
      , "sum"((CASE WHEN ("d_moy" = 8) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "aug_sales"
      , "sum"((CASE WHEN ("d_moy" = 9) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "sep_sales"
      , "sum"((CASE WHEN ("d_moy" = 10) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "oct_sales"
      , "sum"((CASE WHEN ("d_moy" = 11) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "nov_sales"
      , "sum"((CASE WHEN ("d_moy" = 12) THEN ("cs_sales_price" * "cs_quantity") ELSE 0 END)) "dec_sales"
      , "sum"((CASE WHEN ("d_moy" = 1) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "jan_net"
      , "sum"((CASE WHEN ("d_moy" = 2) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "feb_net"
      , "sum"((CASE WHEN ("d_moy" = 3) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "mar_net"
      , "sum"((CASE WHEN ("d_moy" = 4) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "apr_net"
      , "sum"((CASE WHEN ("d_moy" = 5) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "may_net"
      , "sum"((CASE WHEN ("d_moy" = 6) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "jun_net"
      , "sum"((CASE WHEN ("d_moy" = 7) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "jul_net"
      , "sum"((CASE WHEN ("d_moy" = 8) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "aug_net"
      , "sum"((CASE WHEN ("d_moy" = 9) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "sep_net"
      , "sum"((CASE WHEN ("d_moy" = 10) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "oct_net"
      , "sum"((CASE WHEN ("d_moy" = 11) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "nov_net"
      , "sum"((CASE WHEN ("d_moy" = 12) THEN ("cs_net_paid_inc_tax" * "cs_quantity") ELSE 0 END)) "dec_net"
      FROM
        catalog_sales
      , warehouse
      , date_dim
      , time_dim
      , ship_mode
      WHERE ("cs_warehouse_sk" = "w_warehouse_sk")
         AND ("cs_sold_date_sk" = "d_date_sk")
         AND ("cs_sold_time_sk" = "t_time_sk")
         AND ("cs_ship_mode_sk" = "sm_ship_mode_sk")
         AND ("d_year" = 2001)
         AND ("t_time" BETWEEN 30838 AND (30838 + 28800))
         AND ("sm_carrier" IN ('DHL'      , 'BARIAN'))
      GROUP BY "w_warehouse_name", "w_warehouse_sq_ft", "w_city", "w_county", "w_state", "w_country", "d_year"
   )  x
GROUP BY "w_warehouse_name", "w_warehouse_sq_ft", "w_city", "w_county", "w_state", "w_country", "ship_carriers", "year"
ORDER BY "w_warehouse_name" ASC
LIMIT 100
"""

_add("q66", _TEXT_Q66, "TPC-DS q66: warehouse 12-month sales/net pivot (two carriers, two channels, time-of-day band) (vendored: testing/trino-benchmark-queries/.../tpcds/q66.sql).")


_TEXT_Q67 = r"""
SELECT *
FROM
  (
   SELECT
     "i_category"
   , "i_class"
   , "i_brand"
   , "i_product_name"
   , "d_year"
   , "d_qoy"
   , "d_moy"
   , "s_store_id"
   , "sumsales"
   , "rank"() OVER (PARTITION BY "i_category" ORDER BY "sumsales" DESC) "rk"
   FROM
     (
      SELECT
        "i_category"
      , "i_class"
      , "i_brand"
      , "i_product_name"
      , "d_year"
      , "d_qoy"
      , "d_moy"
      , "s_store_id"
      , CAST("sum"(COALESCE(("ss_sales_price" * "ss_quantity"), 0)) AS DOUBLE) "sumsales"
      FROM
        store_sales
      , date_dim
      , store
      , item
      WHERE ("ss_sold_date_sk" = "d_date_sk")
         AND ("ss_item_sk" = "i_item_sk")
         AND ("ss_store_sk" = "s_store_sk")
         AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
      GROUP BY ROLLUP (i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy, s_store_id)
   )  dw1
)  dw2
WHERE ("rk" <= 100)
ORDER BY "i_category" ASC NULLS FIRST, "i_class" ASC NULLS FIRST, "i_brand" ASC NULLS FIRST, "i_product_name" ASC NULLS FIRST, "d_year" ASC NULLS FIRST, "d_qoy" ASC NULLS FIRST, "d_moy" ASC NULLS FIRST, "s_store_id" ASC NULLS FIRST, "sumsales" ASC, "rk" ASC
LIMIT 100
"""

_add("q67", _TEXT_Q67, "TPC-DS q67: top-100 sales ranks within category over an 8-level ROLLUP (vendored: testing/trino-benchmark-queries/.../tpcds/q67.sql).")


_TEXT_Q68 = r"""
SELECT
  "c_last_name"
, "c_first_name"
, "ca_city"
, "bought_city"
, "ss_ticket_number"
, "extended_price"
, "extended_tax"
, "list_price"
FROM
  (
   SELECT
     "ss_ticket_number"
   , "ss_customer_sk"
   , "ca_city" "bought_city"
   , CAST("sum"("ss_ext_sales_price") AS DOUBLE) "extended_price"
   , CAST("sum"("ss_ext_list_price") AS DOUBLE) "list_price"
   , CAST("sum"("ss_ext_tax") AS DOUBLE) "extended_tax"
   FROM
     store_sales
   , date_dim
   , store
   , household_demographics
   , customer_address
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_store_sk" = "store"."s_store_sk")
      AND ("store_sales"."ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("store_sales"."ss_addr_sk" = "customer_address"."ca_address_sk")
      AND ("date_dim"."d_dom" BETWEEN 1 AND 2)
      AND (("household_demographics"."hd_dep_count" = 4)
         OR ("household_demographics"."hd_vehicle_count" = 3))
      AND ("date_dim"."d_year" IN (1999   , (1999 + 1)   , (1999 + 2)))
      AND ("store"."s_city" IN ('Midway'   , 'Fairview'))
   GROUP BY "ss_ticket_number", "ss_customer_sk", "ss_addr_sk", "ca_city"
)  dn
, customer
, customer_address current_addr
WHERE ("ss_customer_sk" = "c_customer_sk")
   AND ("customer"."c_current_addr_sk" = "current_addr"."ca_address_sk")
   AND ("current_addr"."ca_city" <> "bought_city")
ORDER BY "c_last_name" ASC, "ss_ticket_number" ASC
LIMIT 100
"""

_add("q68", _TEXT_Q68, "TPC-DS q68: per-ticket extended price/tax/list aggregates for 1st-2nd-of-month city buyers (vendored: testing/trino-benchmark-queries/.../tpcds/q68.sql).")


_TEXT_Q69 = r"""
SELECT
  "cd_gender"
, "cd_marital_status"
, "cd_education_status"
, "count"(*) "cnt1"
, "cd_purchase_estimate"
, "count"(*) "cnt2"
, "cd_credit_rating"
, "count"(*) "cnt3"
FROM
  customer c
, customer_address ca
, customer_demographics
WHERE ("c"."c_current_addr_sk" = "ca"."ca_address_sk")
   AND ("ca_state" IN ('KY', 'GA', 'NM'))
   AND ("cd_demo_sk" = "c"."c_current_cdemo_sk")
   AND (EXISTS (
   SELECT *
   FROM
     store_sales
   , date_dim
   WHERE ("c"."c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" BETWEEN 4 AND (4 + 2))
))
   AND (NOT (EXISTS (
   SELECT *
   FROM
     web_sales
   , date_dim
   WHERE ("c"."c_customer_sk" = "ws_bill_customer_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" BETWEEN 4 AND (4 + 2))
)))
   AND (NOT (EXISTS (
   SELECT *
   FROM
     catalog_sales
   , date_dim
   WHERE ("c"."c_customer_sk" = "cs_ship_customer_sk")
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_year" = 2001)
      AND ("d_moy" BETWEEN 4 AND (4 + 2))
)))
GROUP BY "cd_gender", "cd_marital_status", "cd_education_status", "cd_purchase_estimate", "cd_credit_rating"
ORDER BY "cd_gender" ASC, "cd_marital_status" ASC, "cd_education_status" ASC, "cd_purchase_estimate" ASC, "cd_credit_rating" ASC
LIMIT 100
"""

_add("q69", _TEXT_Q69, "TPC-DS q69: store-active, web/catalog-inactive customers by demographic profile (vendored: testing/trino-benchmark-queries/.../tpcds/q69.sql).")


_TEXT_Q70 = r"""
SELECT
  CAST("sum"("ss_net_profit") AS DOUBLE) "total_sum"
, "s_state"
, "s_county"
, (GROUPING ("s_state") + GROUPING ("s_county")) "lochierarchy"
, "rank"() OVER (PARTITION BY (GROUPING ("s_state") + GROUPING ("s_county")), (CASE WHEN (GROUPING ("s_county") = 0) THEN "s_state" END) ORDER BY "sum"("ss_net_profit") DESC) "rank_within_parent"
FROM
  store_sales
, date_dim d1
, store
WHERE ("d1"."d_month_seq" BETWEEN 1200 AND (1200 + 11))
   AND ("d1"."d_date_sk" = "ss_sold_date_sk")
   AND ("s_store_sk" = "ss_store_sk")
   AND ("s_state" IN (
   SELECT "s_state"
   FROM
     (
      SELECT
        "s_state" "s_state"
      , "rank"() OVER (PARTITION BY "s_state" ORDER BY "sum"("ss_net_profit") DESC) "ranking"
      FROM
        store_sales
      , store
      , date_dim
      WHERE ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
         AND ("d_date_sk" = "ss_sold_date_sk")
         AND ("s_store_sk" = "ss_store_sk")
      GROUP BY "s_state"
   )  tmp1
   WHERE ("ranking" <= 5)
))
GROUP BY ROLLUP (s_state, s_county)
ORDER BY "lochierarchy" DESC, (CASE WHEN ("lochierarchy" = 0) THEN "s_state" END) ASC, "rank_within_parent" ASC
LIMIT 100
"""

_add("q70", _TEXT_Q70, "TPC-DS q70: state/county profit ROLLUP ranked within hierarchy, top-5-state subquery filter (vendored: testing/trino-benchmark-queries/.../tpcds/q70.sql).")


_TEXT_Q71 = r"""
SELECT
  "i_brand_id" "brand_id"
, "i_brand" "brand"
, "t_hour"
, "t_minute"
, CAST("sum"("ext_price") AS DOUBLE) "ext_price"
FROM
  item
, (
   SELECT
     "ws_ext_sales_price" "ext_price"
   , "ws_sold_date_sk" "sold_date_sk"
   , "ws_item_sk" "sold_item_sk"
   , "ws_sold_time_sk" "time_sk"
   FROM
     web_sales
   , date_dim
   WHERE ("d_date_sk" = "ws_sold_date_sk")
      AND ("d_moy" = 11)
      AND ("d_year" = 1999)
UNION ALL    SELECT
     "cs_ext_sales_price" "ext_price"
   , "cs_sold_date_sk" "sold_date_sk"
   , "cs_item_sk" "sold_item_sk"
   , "cs_sold_time_sk" "time_sk"
   FROM
     catalog_sales
   , date_dim
   WHERE ("d_date_sk" = "cs_sold_date_sk")
      AND ("d_moy" = 11)
      AND ("d_year" = 1999)
UNION ALL    SELECT
     "ss_ext_sales_price" "ext_price"
   , "ss_sold_date_sk" "sold_date_sk"
   , "ss_item_sk" "sold_item_sk"
   , "ss_sold_time_sk" "time_sk"
   FROM
     store_sales
   , date_dim
   WHERE ("d_date_sk" = "ss_sold_date_sk")
      AND ("d_moy" = 11)
      AND ("d_year" = 1999)
)  tmp
, time_dim
WHERE ("sold_item_sk" = "i_item_sk")
   AND ("i_manager_id" = 1)
   AND ("time_sk" = "t_time_sk")
   AND (("t_meal_time" = 'breakfast')
      OR ("t_meal_time" = 'dinner'))
GROUP BY "i_brand", "i_brand_id", "t_hour", "t_minute"
ORDER BY "ext_price" DESC, "i_brand_id" ASC,
   -- additional columns to assure results stability for larger scale factors; this is a deviation from TPC-DS specification
   "t_hour" ASC, "t_minute" ASC
"""

_add("q71", _TEXT_Q71, "TPC-DS q71: brand revenue by time-of-day over a 3-channel UNION ALL (web+catalog+store) at breakfast/dinner (vendored: testing/trino-benchmark-queries/.../tpcds/q71.sql).")


_TEXT_Q72 = r"""
SELECT
  "i_item_desc"
, "w_warehouse_name"
, "d1"."d_week_seq"
, CAST("sum"((CASE WHEN ("p_promo_sk" IS NULL) THEN 1 ELSE 0 END)) AS BIGINT) "no_promo"
, CAST("sum"((CASE WHEN ("p_promo_sk" IS NOT NULL) THEN 1 ELSE 0 END)) AS BIGINT) "promo"
, "count"(*) "total_cnt"
FROM
  ((((((((((catalog_sales
INNER JOIN inventory ON ("cs_item_sk" = "inv_item_sk"))
INNER JOIN warehouse ON ("w_warehouse_sk" = "inv_warehouse_sk"))
INNER JOIN item ON ("i_item_sk" = "cs_item_sk"))
INNER JOIN customer_demographics ON ("cs_bill_cdemo_sk" = "cd_demo_sk"))
INNER JOIN household_demographics ON ("cs_bill_hdemo_sk" = "hd_demo_sk"))
INNER JOIN date_dim d1 ON ("cs_sold_date_sk" = "d1"."d_date_sk"))
INNER JOIN date_dim d2 ON ("inv_date_sk" = "d2"."d_date_sk"))
INNER JOIN date_dim d3 ON ("cs_ship_date_sk" = "d3"."d_date_sk"))
LEFT JOIN promotion ON ("cs_promo_sk" = "p_promo_sk"))
LEFT JOIN catalog_returns ON ("cr_item_sk" = "cs_item_sk")
   AND ("cr_order_number" = "cs_order_number"))
WHERE ("d1"."d_week_seq" = "d2"."d_week_seq")
   AND ("inv_quantity_on_hand" < "cs_quantity")
   AND ("d3"."d_date" > ("d1"."d_date" + INTERVAL  '5' DAY))
   AND ("hd_buy_potential" = '>10000')
   AND ("d1"."d_year" = 1999)
   AND ("cd_marital_status" = 'D')
GROUP BY "i_item_desc", "w_warehouse_name", "d1"."d_week_seq"
ORDER BY "total_cnt" DESC, "i_item_desc" ASC, "w_warehouse_name" ASC, "d1"."d_week_seq" ASC
LIMIT 100
"""

_add("q72", _TEXT_Q72, "TPC-DS q72: catalog lines short on inventory in the sale week (9-table join, promo LEFT JOIN) (vendored: testing/trino-benchmark-queries/.../tpcds/q72.sql).")


_TEXT_Q73 = r"""
SELECT
  "c_last_name"
, "c_first_name"
, "c_salutation"
, "c_preferred_cust_flag"
, "ss_ticket_number"
, "cnt"
FROM
  (
   SELECT
     "ss_ticket_number"
   , "ss_customer_sk"
   , "count"(*) "cnt"
   FROM
     store_sales
   , date_dim
   , store
   , household_demographics
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_store_sk" = "store"."s_store_sk")
      AND ("store_sales"."ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("date_dim"."d_dom" BETWEEN 1 AND 2)
      AND (("household_demographics"."hd_buy_potential" = '>10000')
         OR ("household_demographics"."hd_buy_potential" = 'Unknown'))
      AND ("household_demographics"."hd_vehicle_count" > 0)
      AND ((CASE WHEN ("household_demographics"."hd_vehicle_count" > 0) THEN (CAST("household_demographics"."hd_dep_count" AS DECIMAL(7,2)) / "household_demographics"."hd_vehicle_count") ELSE null END) > 1)
      AND ("date_dim"."d_year" IN (1999   , (1999 + 1)   , (1999 + 2)))
      AND ("store"."s_county" IN ('Williamson County'   , 'Franklin Parish'   , 'Bronx County'   , 'Orange County'))
   GROUP BY "ss_ticket_number", "ss_customer_sk"
)  dj
, customer
WHERE ("ss_customer_sk" = "c_customer_sk")
   AND ("cnt" BETWEEN 1 AND 5)
ORDER BY "cnt" DESC, "c_last_name" ASC,
   -- additional column to assure results stability for larger scale factors; this is a deviation from TPC-DS specification
   "ss_ticket_number" ASC
"""

_add("q73", _TEXT_Q73, "TPC-DS q73: ticket line-count 1-5 buyer groups (county + buy-potential + vehicle ratio filters) (vendored: testing/trino-benchmark-queries/.../tpcds/q73.sql).")


_TEXT_Q74 = r"""
WITH
  year_total AS (
   SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "d_year" "YEAR"
   , CAST("sum"("ss_net_paid") AS DOUBLE) "year_total"
   , 's' "sale_type"
   FROM
     customer
   , store_sales
   , date_dim
   WHERE ("c_customer_sk" = "ss_customer_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_year" IN (2001   , (2001 + 1)))
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "d_year"
UNION ALL    SELECT
     "c_customer_id" "customer_id"
   , "c_first_name" "customer_first_name"
   , "c_last_name" "customer_last_name"
   , "d_year" "YEAR"
   , CAST("sum"("ws_net_paid") AS DOUBLE) "year_total"
   , 'w' "sale_type"
   FROM
     customer
   , web_sales
   , date_dim
   WHERE ("c_customer_sk" = "ws_bill_customer_sk")
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_year" IN (2001   , (2001 + 1)))
   GROUP BY "c_customer_id", "c_first_name", "c_last_name", "d_year"
) 
SELECT
  "t_s_secyear"."customer_id"
, "t_s_secyear"."customer_first_name"
, "t_s_secyear"."customer_last_name"
FROM
  year_total t_s_firstyear
, year_total t_s_secyear
, year_total t_w_firstyear
, year_total t_w_secyear
WHERE ("t_s_secyear"."customer_id" = "t_s_firstyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_secyear"."customer_id")
   AND ("t_s_firstyear"."customer_id" = "t_w_firstyear"."customer_id")
   AND ("t_s_firstyear"."sale_type" = 's')
   AND ("t_w_firstyear"."sale_type" = 'w')
   AND ("t_s_secyear"."sale_type" = 's')
   AND ("t_w_secyear"."sale_type" = 'w')
   AND ("t_s_firstyear"."year" = 2001)
   AND ("t_s_secyear"."year" = (2001 + 1))
   AND ("t_w_firstyear"."year" = 2001)
   AND ("t_w_secyear"."year" = (2001 + 1))
   AND ("t_s_firstyear"."year_total" > 0)
   AND ("t_w_firstyear"."year_total" > 0)
   AND ((CASE WHEN ("t_w_firstyear"."year_total" > 0) THEN ("t_w_secyear"."year_total" / "t_w_firstyear"."year_total") ELSE null END) > (CASE WHEN ("t_s_firstyear"."year_total" > 0) THEN ("t_s_secyear"."year_total" / "t_s_firstyear"."year_total") ELSE null END))
ORDER BY 1 ASC, 1 ASC, 1 ASC
LIMIT 100
"""

_add("q74", _TEXT_Q74, "TPC-DS q74: store-vs-web net-paid customer growth: 4 self-joins of a 2-channel year_total CTE (vendored: testing/trino-benchmark-queries/.../tpcds/q74.sql).")


_TEXT_Q75 = r"""
WITH
  all_sales AS (
   SELECT
     "d_year"
   , "i_brand_id"
   , "i_class_id"
   , "i_category_id"
   , "i_manufact_id"
   , CAST("sum"("sales_cnt") AS BIGINT) "sales_cnt"
   , "sum"("sales_amt") "sales_amt"
   FROM
     (
      SELECT
        "d_year"
      , "i_brand_id"
      , "i_class_id"
      , "i_category_id"
      , "i_manufact_id"
      , ("cs_quantity" - COALESCE("cr_return_quantity", 0)) "sales_cnt"
      , ("cs_ext_sales_price" - COALESCE("cr_return_amount", DECIMAL '0.0')) "sales_amt"
      FROM
        (((catalog_sales
      INNER JOIN item ON ("i_item_sk" = "cs_item_sk"))
      INNER JOIN date_dim ON ("d_date_sk" = "cs_sold_date_sk"))
      LEFT JOIN catalog_returns ON ("cs_order_number" = "cr_order_number")
         AND ("cs_item_sk" = "cr_item_sk"))
      WHERE ("i_category" = 'Books')
UNION       SELECT
        "d_year"
      , "i_brand_id"
      , "i_class_id"
      , "i_category_id"
      , "i_manufact_id"
      , ("ss_quantity" - COALESCE("sr_return_quantity", 0)) "sales_cnt"
      , ("ss_ext_sales_price" - COALESCE("sr_return_amt", DECIMAL '0.0')) "sales_amt"
      FROM
        (((store_sales
      INNER JOIN item ON ("i_item_sk" = "ss_item_sk"))
      INNER JOIN date_dim ON ("d_date_sk" = "ss_sold_date_sk"))
      LEFT JOIN store_returns ON ("ss_ticket_number" = "sr_ticket_number")
         AND ("ss_item_sk" = "sr_item_sk"))
      WHERE ("i_category" = 'Books')
UNION       SELECT
        "d_year"
      , "i_brand_id"
      , "i_class_id"
      , "i_category_id"
      , "i_manufact_id"
      , ("ws_quantity" - COALESCE("wr_return_quantity", 0)) "sales_cnt"
      , ("ws_ext_sales_price" - COALESCE("wr_return_amt", DECIMAL '0.0')) "sales_amt"
      FROM
        (((web_sales
      INNER JOIN item ON ("i_item_sk" = "ws_item_sk"))
      INNER JOIN date_dim ON ("d_date_sk" = "ws_sold_date_sk"))
      LEFT JOIN web_returns ON ("ws_order_number" = "wr_order_number")
         AND ("ws_item_sk" = "wr_item_sk"))
      WHERE ("i_category" = 'Books')
   )  sales_detail
   GROUP BY "d_year", "i_brand_id", "i_class_id", "i_category_id", "i_manufact_id"
) 
SELECT
  "prev_yr"."d_year" "prev_year"
, "curr_yr"."d_year" "year"
, "curr_yr"."i_brand_id"
, "curr_yr"."i_class_id"
, "curr_yr"."i_category_id"
, "curr_yr"."i_manufact_id"
, "prev_yr"."sales_cnt" "prev_yr_cnt"
, "curr_yr"."sales_cnt" "curr_yr_cnt"
, ("curr_yr"."sales_cnt" - "prev_yr"."sales_cnt") "sales_cnt_diff"
, CAST(("curr_yr"."sales_amt" - "prev_yr"."sales_amt") AS DOUBLE) "sales_amt_diff"
FROM
  all_sales curr_yr
, all_sales prev_yr
WHERE ("curr_yr"."i_brand_id" = "prev_yr"."i_brand_id")
   AND ("curr_yr"."i_class_id" = "prev_yr"."i_class_id")
   AND ("curr_yr"."i_category_id" = "prev_yr"."i_category_id")
   AND ("curr_yr"."i_manufact_id" = "prev_yr"."i_manufact_id")
   AND ("curr_yr"."d_year" = 2002)
   AND ("prev_yr"."d_year" = (2002 - 1))
   AND ((CAST("curr_yr"."sales_cnt" AS DECIMAL(17,2)) / CAST("prev_yr"."sales_cnt" AS DECIMAL(17,2))) < DECIMAL '0.9')
ORDER BY "sales_cnt_diff" ASC, "sales_amt_diff" ASC
LIMIT 100
"""

_add("q75", _TEXT_Q75, "TPC-DS q75: year-over-year per-(brand,class,category,manufact) sales contraction below 0.9x across 3 channels (vendored: testing/trino-benchmark-queries/.../tpcds/q75.sql).")


_TEXT_Q76 = r"""
SELECT
  "channel"
, "col_name"
, "d_year"
, "d_qoy"
, "i_category"
, "count"(*) "sales_cnt"
, CAST("sum"("ext_sales_price") AS DOUBLE) "sales_amt"
FROM
  (
   SELECT
     'store' "channel"
   , 'ss_store_sk' "col_name"
   , "d_year"
   , "d_qoy"
   , "i_category"
   , "ss_ext_sales_price" "ext_sales_price"
   FROM
     store_sales
   , item
   , date_dim
   WHERE ("ss_store_sk" IS NULL)
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_item_sk" = "i_item_sk")
UNION ALL    SELECT
     'web' "channel"
   , 'ws_ship_customer_sk' "col_name"
   , "d_year"
   , "d_qoy"
   , "i_category"
   , "ws_ext_sales_price" "ext_sales_price"
   FROM
     web_sales
   , item
   , date_dim
   WHERE ("ws_ship_customer_sk" IS NULL)
      AND ("ws_sold_date_sk" = "d_date_sk")
      AND ("ws_item_sk" = "i_item_sk")
UNION ALL    SELECT
     'catalog' "channel"
   , 'cs_ship_addr_sk' "col_name"
   , "d_year"
   , "d_qoy"
   , "i_category"
   , "cs_ext_sales_price" "ext_sales_price"
   FROM
     catalog_sales
   , item
   , date_dim
   WHERE ("cs_ship_addr_sk" IS NULL)
      AND ("cs_sold_date_sk" = "d_date_sk")
      AND ("cs_item_sk" = "i_item_sk")
)  foo
GROUP BY "channel", "col_name", "d_year", "d_qoy", "i_category"
ORDER BY "channel" ASC, "col_name" ASC, "d_year" ASC, "d_qoy" ASC, "i_category" ASC
LIMIT 100
"""

_add("q76", _TEXT_Q76, "TPC-DS q76: sales with NULL channel keys (store/web/catalog) by quarter and category (vendored: testing/trino-benchmark-queries/.../tpcds/q76.sql).")


_TEXT_Q77 = r"""
WITH
  ss AS (
   SELECT
     "s_store_sk"
   , "sum"("ss_ext_sales_price") "sales"
   , "sum"("ss_net_profit") "profit"
   FROM
     store_sales
   , date_dim
   , store
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("ss_store_sk" = "s_store_sk")
   GROUP BY "s_store_sk"
) 
, sr AS (
   SELECT
     "s_store_sk"
   , "sum"("sr_return_amt") "returns"
   , "sum"("sr_net_loss") "profit_loss"
   FROM
     store_returns
   , date_dim
   , store
   WHERE ("sr_returned_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("sr_store_sk" = "s_store_sk")
   GROUP BY "s_store_sk"
) 
, cs AS (
   SELECT
     "cs_call_center_sk"
   , "sum"("cs_ext_sales_price") "sales"
   , "sum"("cs_net_profit") "profit"
   FROM
     catalog_sales
   , date_dim
   WHERE ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
   GROUP BY "cs_call_center_sk"
) 
, cr AS (
   SELECT
     "cr_call_center_sk"
   , "sum"("cr_return_amount") "returns"
   , "sum"("cr_net_loss") "profit_loss"
   FROM
     catalog_returns
   , date_dim
   WHERE ("cr_returned_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
   GROUP BY "cr_call_center_sk"
) 
, ws AS (
   SELECT
     "wp_web_page_sk"
   , "sum"("ws_ext_sales_price") "sales"
   , "sum"("ws_net_profit") "profit"
   FROM
     web_sales
   , date_dim
   , web_page
   WHERE ("ws_sold_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("ws_web_page_sk" = "wp_web_page_sk")
   GROUP BY "wp_web_page_sk"
) 
, wr AS (
   SELECT
     "wp_web_page_sk"
   , "sum"("wr_return_amt") "returns"
   , "sum"("wr_net_loss") "profit_loss"
   FROM
     web_returns
   , date_dim
   , web_page
   WHERE ("wr_returned_date_sk" = "d_date_sk")
      AND ("d_date" BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("wr_web_page_sk" = "wp_web_page_sk")
   GROUP BY "wp_web_page_sk"
) 
SELECT
  "channel"
, "id"
, CAST("sum"("sales") AS DOUBLE) "sales"
, CAST("sum"("returns") AS DOUBLE) "returns"
, CAST("sum"("profit") AS DOUBLE) "profit"
FROM
  (
   SELECT
     'store channel' "channel"
   , "ss"."s_store_sk" "id"
   , "sales"
   , COALESCE("returns", 0) "returns"
   , ("profit" - COALESCE("profit_loss", 0)) "profit"
   FROM
     (ss
   LEFT JOIN sr ON ("ss"."s_store_sk" = "sr"."s_store_sk"))
UNION ALL    SELECT
     'catalog channel' "channel"
   , "cs_call_center_sk" "id"
   , "sales"
   , "returns"
   , ("profit" - "profit_loss") "profit"
   FROM
     cs
   , cr
UNION ALL    SELECT
     'web channel' "channel"
   , "ws"."wp_web_page_sk" "id"
   , "sales"
   , COALESCE("returns", 0) "returns"
   , ("profit" - COALESCE("profit_loss", 0)) "profit"
   FROM
     (ws
   LEFT JOIN wr ON ("ws"."wp_web_page_sk" = "wr"."wp_web_page_sk"))
)  x
GROUP BY ROLLUP (channel, id)
ORDER BY "channel" ASC NULLS FIRST, "id" ASC NULLS FIRST, "sales" ASC
LIMIT 100
"""

_add("q77", _TEXT_Q77, "TPC-DS q77: 30-day profit & loss per store/call-center/web-page, channel ROLLUP (vendored: testing/trino-benchmark-queries/.../tpcds/q77.sql).")


_TEXT_Q78 = r"""
WITH
  ws AS (
   SELECT
     "d_year" "ws_sold_year"
   , "ws_item_sk"
   , "ws_bill_customer_sk" "ws_customer_sk"
   , CAST("sum"("ws_quantity") AS BIGINT) "ws_qty"
   , CAST("sum"("ws_wholesale_cost") AS DOUBLE) "ws_wc"
   , CAST("sum"("ws_sales_price") AS DOUBLE) "ws_sp"
   FROM
     ((web_sales
   LEFT JOIN web_returns ON ("wr_order_number" = "ws_order_number")
      AND ("ws_item_sk" = "wr_item_sk"))
   INNER JOIN date_dim ON ("ws_sold_date_sk" = "d_date_sk"))
   WHERE ("wr_order_number" IS NULL)
   GROUP BY "d_year", "ws_item_sk", "ws_bill_customer_sk"
) 
, cs AS (
   SELECT
     "d_year" "cs_sold_year"
   , "cs_item_sk"
   , "cs_bill_customer_sk" "cs_customer_sk"
   , CAST("sum"("cs_quantity") AS BIGINT) "cs_qty"
   , CAST("sum"("cs_wholesale_cost") AS DOUBLE) "cs_wc"
   , CAST("sum"("cs_sales_price") AS DOUBLE) "cs_sp"
   FROM
     ((catalog_sales
   LEFT JOIN catalog_returns ON ("cr_order_number" = "cs_order_number")
      AND ("cs_item_sk" = "cr_item_sk"))
   INNER JOIN date_dim ON ("cs_sold_date_sk" = "d_date_sk"))
   WHERE ("cr_order_number" IS NULL)
   GROUP BY "d_year", "cs_item_sk", "cs_bill_customer_sk"
) 
, ss AS (
   SELECT
     "d_year" "ss_sold_year"
   , "ss_item_sk"
   , "ss_customer_sk"
   , CAST("sum"("ss_quantity") AS BIGINT) "ss_qty"
   , CAST("sum"("ss_wholesale_cost") AS DOUBLE) "ss_wc"
   , CAST("sum"("ss_sales_price") AS DOUBLE) "ss_sp"
   FROM
     ((store_sales
   LEFT JOIN store_returns ON ("sr_ticket_number" = "ss_ticket_number")
      AND ("ss_item_sk" = "sr_item_sk"))
   INNER JOIN date_dim ON ("ss_sold_date_sk" = "d_date_sk"))
   WHERE ("sr_ticket_number" IS NULL)
   GROUP BY "d_year", "ss_item_sk", "ss_customer_sk"
) 
SELECT
  "ss_sold_year"
, "ss_item_sk"
, "ss_customer_sk"
, (floor((CAST("ss_qty" AS DOUBLE) / (COALESCE("ws_qty", 0) + COALESCE("cs_qty", 0))) * 100 + 0.5) / 1e2) "ratio"
, "ss_qty" "store_qty"
, "ss_wc" "store_wholesale_cost"
, "ss_sp" "store_sales_price"
, (COALESCE("ws_qty", 0) + COALESCE("cs_qty", 0)) "other_chan_qty"
, (COALESCE("ws_wc", 0) + COALESCE("cs_wc", 0)) "other_chan_wholesale_cost"
, (COALESCE("ws_sp", 0) + COALESCE("cs_sp", 0)) "other_chan_sales_price"
FROM
  ((ss
LEFT JOIN ws ON ("ws_sold_year" = "ss_sold_year")
   AND ("ws_item_sk" = "ss_item_sk")
   AND ("ws_customer_sk" = "ss_customer_sk"))
LEFT JOIN cs ON ("cs_sold_year" = "ss_sold_year")
   AND ("cs_item_sk" = "ss_item_sk")
   AND ("cs_customer_sk" = "ss_customer_sk"))
WHERE ((COALESCE("ws_qty", 0) > 0)
   OR (COALESCE("cs_qty", 0) > 0))
   AND ("ss_sold_year" = 2000)
ORDER BY "ss_sold_year" ASC, "ss_item_sk" ASC, "ss_customer_sk" ASC, "ss_qty" DESC, "ss_wc" DESC, "ss_sp" DESC, "other_chan_qty" ASC, "other_chan_wholesale_cost" ASC, "other_chan_sales_price" ASC, (floor((CAST("ss_qty" AS DOUBLE) / (COALESCE("ws_qty", 0) + COALESCE("cs_qty", 0))) * 100 + 0.5) / 1e2) ASC
LIMIT 100
"""

_add("q78", _TEXT_Q78, "TPC-DS q78: never-returned sales per (year, item, customer) across 3 channels: LEFT JOIN returns IS NULL, 2 more LEFT JOINs (vendored: testing/trino-benchmark-queries/.../tpcds/q78.sql).")


_TEXT_Q79 = r"""
SELECT
  "c_last_name"
, "c_first_name"
, "substr"("s_city", 1, 30) "s_city_30"
, "ss_ticket_number"
, "amt"
, "profit"
FROM
  (
   SELECT
     "ss_ticket_number"
   , "ss_customer_sk"
   , "store"."s_city"
   , CAST("sum"("ss_coupon_amt") AS DOUBLE) "amt"
   , CAST("sum"("ss_net_profit") AS DOUBLE) "profit"
   FROM
     store_sales
   , date_dim
   , store
   , household_demographics
   WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
      AND ("store_sales"."ss_store_sk" = "store"."s_store_sk")
      AND ("store_sales"."ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND (("household_demographics"."hd_dep_count" = 6)
         OR ("household_demographics"."hd_vehicle_count" > 2))
      AND ("date_dim"."d_dow" = 1)
      AND ("date_dim"."d_year" IN (1999   , (1999 + 1)   , (1999 + 2)))
      AND ("store"."s_number_employees" BETWEEN 200 AND 295)
   GROUP BY "ss_ticket_number", "ss_customer_sk", "ss_addr_sk", "store"."s_city"
)  ms
, customer
WHERE ("ss_customer_sk" = "c_customer_sk")
ORDER BY "c_last_name" ASC, "c_first_name" ASC, "substr"("s_city", 1, 30) ASC, "profit" ASC
LIMIT 100
"""

_add("q79", _TEXT_Q79, "TPC-DS q79: per-ticket coupon/profit for high-dependency or multi-vehicle weekday shoppers (vendored: testing/trino-benchmark-queries/.../tpcds/q79.sql).")


_TEXT_Q80 = r"""
WITH
  ssr AS (
   SELECT
     "s_store_id" "store_id"
   , "sum"("ss_ext_sales_price") "sales"
   , "sum"(COALESCE("sr_return_amt", 0)) "returns"
   , "sum"(("ss_net_profit" - COALESCE("sr_net_loss", 0))) "profit"
   FROM
     (store_sales
   LEFT JOIN store_returns ON ("ss_item_sk" = "sr_item_sk")
      AND ("ss_ticket_number" = "sr_ticket_number"))
   , date_dim
   , store
   , item
   , promotion
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND (CAST("d_date" AS DATE) BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("ss_store_sk" = "s_store_sk")
      AND ("ss_item_sk" = "i_item_sk")
      AND ("i_current_price" > 50)
      AND ("ss_promo_sk" = "p_promo_sk")
      AND ("p_channel_tv" = 'N')
   GROUP BY "s_store_id"
) 
, csr AS (
   SELECT
     "cp_catalog_page_id" "catalog_page_id"
   , "sum"("cs_ext_sales_price") "sales"
   , "sum"(COALESCE("cr_return_amount", 0)) "returns"
   , "sum"(("cs_net_profit" - COALESCE("cr_net_loss", 0))) "profit"
   FROM
     (catalog_sales
   LEFT JOIN catalog_returns ON ("cs_item_sk" = "cr_item_sk")
      AND ("cs_order_number" = "cr_order_number"))
   , date_dim
   , catalog_page
   , item
   , promotion
   WHERE ("cs_sold_date_sk" = "d_date_sk")
      AND (CAST("d_date" AS DATE) BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("cs_catalog_page_sk" = "cp_catalog_page_sk")
      AND ("cs_item_sk" = "i_item_sk")
      AND ("i_current_price" > 50)
      AND ("cs_promo_sk" = "p_promo_sk")
      AND ("p_channel_tv" = 'N')
   GROUP BY "cp_catalog_page_id"
) 
, wsr AS (
   SELECT
     "web_site_id"
   , "sum"("ws_ext_sales_price") "sales"
   , "sum"(COALESCE("wr_return_amt", 0)) "returns"
   , "sum"(("ws_net_profit" - COALESCE("wr_net_loss", 0))) "profit"
   FROM
     (web_sales
   LEFT JOIN web_returns ON ("ws_item_sk" = "wr_item_sk")
      AND ("ws_order_number" = "wr_order_number"))
   , date_dim
   , web_site
   , item
   , promotion
   WHERE ("ws_sold_date_sk" = "d_date_sk")
      AND (CAST("d_date" AS DATE) BETWEEN CAST('2000-08-23' AS DATE) AND (CAST('2000-08-23' AS DATE) + INTERVAL  '30' DAY))
      AND ("ws_web_site_sk" = "web_site_sk")
      AND ("ws_item_sk" = "i_item_sk")
      AND ("i_current_price" > 50)
      AND ("ws_promo_sk" = "p_promo_sk")
      AND ("p_channel_tv" = 'N')
   GROUP BY "web_site_id"
) 
SELECT
  "channel"
, "id"
, CAST("sum"("sales") AS DOUBLE) "sales"
, CAST("sum"("returns") AS DOUBLE) "returns"
, CAST("sum"("profit") AS DOUBLE) "profit"
FROM
  (
   SELECT
     'store channel' "channel"
   , "concat"('store', "store_id") "id"
   , "sales"
   , "returns"
   , "profit"
   FROM
     ssr
UNION ALL    SELECT
     'catalog channel' "channel"
   , "concat"('catalog_page', "catalog_page_id") "id"
   , "sales"
   , "returns"
   , "profit"
   FROM
     csr
UNION ALL    SELECT
     'web channel' "channel"
   , "concat"('web_site', "web_site_id") "id"
   , "sales"
   , "returns"
   , "profit"
   FROM
     wsr
)  x
GROUP BY ROLLUP (channel, id)
ORDER BY "channel" ASC NULLS FIRST, "id" ASC NULLS FIRST
LIMIT 100
"""

_add("q80", _TEXT_Q80, "TPC-DS q80: 30-day promo-filtered sales/returns/profit per store/catalog-page/web-site, channel ROLLUP (vendored: testing/trino-benchmark-queries/.../tpcds/q80.sql).")


_TEXT_Q81 = r"""
WITH
  customer_total_return AS (
   SELECT
     "cr_returning_customer_sk" "ctr_customer_sk"
   , "ca_state" "ctr_state"
   , "sum"("cr_return_amt_inc_tax") "ctr_total_return"
   FROM
     catalog_returns
   , date_dim
   , customer_address
   WHERE ("cr_returned_date_sk" = "d_date_sk")
      AND ("d_year" = 2000)
      AND ("cr_returning_addr_sk" = "ca_address_sk")
   GROUP BY "cr_returning_customer_sk", "ca_state"
) 
SELECT
  "c_customer_id"
, "c_salutation"
, "c_first_name"
, "c_last_name"
, "ca_street_number"
, "ca_street_name"
, "ca_street_type"
, "ca_suite_number"
, "ca_city"
, "ca_county"
, "ca_state"
, "ca_zip"
, "ca_country"
, CAST("ca_gmt_offset" AS DOUBLE) "ca_gmt_offset"
, "ca_location_type"
, CAST("ctr_total_return" AS DOUBLE) "ctr_total_return"
FROM
  customer_total_return ctr1
, customer_address
, customer
WHERE ("ctr1"."ctr_total_return" > (
      SELECT ("avg"("ctr_total_return") * DECIMAL '1.2')
      FROM
        customer_total_return ctr2
      WHERE ("ctr1"."ctr_state" = "ctr2"."ctr_state")
   ))
   AND ("ca_address_sk" = "c_current_addr_sk")
   AND ("ca_state" = 'GA')
   AND ("ctr1"."ctr_customer_sk" = "c_customer_sk")
ORDER BY "c_customer_id" ASC, "c_salutation" ASC, "c_first_name" ASC, "c_last_name" ASC, "ca_street_number" ASC, "ca_street_name" ASC, "ca_street_type" ASC, "ca_suite_number" ASC, "ca_city" ASC, "ca_county" ASC, "ca_state" ASC, "ca_zip" ASC, "ca_country" ASC, "ca_gmt_offset" ASC, "ca_location_type" ASC, "ctr_total_return" ASC
LIMIT 100
"""

_add("q81", _TEXT_Q81, "TPC-DS q81: catalog customers returning above 1.2x their state average + full address block (vendored: testing/trino-benchmark-queries/.../tpcds/q81.sql).")


_TEXT_Q82 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
FROM
  item
, inventory
, date_dim
, store_sales
WHERE ("i_current_price" BETWEEN 62 AND (62 + 30))
   AND ("inv_item_sk" = "i_item_sk")
   AND ("d_date_sk" = "inv_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN CAST('2000-05-25' AS DATE) AND (CAST('2000-05-25' AS DATE) + INTERVAL  '60' DAY))
   AND ("i_manufact_id" IN (129, 270, 821, 423))
   AND ("inv_quantity_on_hand" BETWEEN 100 AND 500)
   AND ("ss_item_sk" = "i_item_sk")
GROUP BY "i_item_id", "i_item_desc", "i_current_price"
ORDER BY "i_item_id" ASC
LIMIT 100
"""

_add("q82", _TEXT_Q82, "TPC-DS q82: store items with 100-500 on-hand in a 60-day window (vendored: testing/trino-benchmark-queries/.../tpcds/q82.sql).")


_TEXT_Q83 = r"""
WITH
  sr_items AS (
   SELECT
     "i_item_id" "item_id"
   , CAST("sum"("sr_return_quantity") AS BIGINT) "sr_item_qty"
   FROM
     store_returns
   , item
   , date_dim
   WHERE ("sr_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" IN (
         SELECT "d_week_seq"
         FROM
           date_dim
         WHERE ("d_date" IN (CAST('2000-06-30' AS DATE)         , CAST('2000-09-27' AS DATE)         , CAST('2000-11-17' AS DATE)))
      ))
   ))
      AND ("sr_returned_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
, cr_items AS (
   SELECT
     "i_item_id" "item_id"
   , CAST("sum"("cr_return_quantity") AS BIGINT) "cr_item_qty"
   FROM
     catalog_returns
   , item
   , date_dim
   WHERE ("cr_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" IN (
         SELECT "d_week_seq"
         FROM
           date_dim
         WHERE ("d_date" IN (CAST('2000-06-30' AS DATE)         , CAST('2000-09-27' AS DATE)         , CAST('2000-11-17' AS DATE)))
      ))
   ))
      AND ("cr_returned_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
, wr_items AS (
   SELECT
     "i_item_id" "item_id"
   , CAST("sum"("wr_return_quantity") AS BIGINT) "wr_item_qty"
   FROM
     web_returns
   , item
   , date_dim
   WHERE ("wr_item_sk" = "i_item_sk")
      AND ("d_date" IN (
      SELECT "d_date"
      FROM
        date_dim
      WHERE ("d_week_seq" IN (
         SELECT "d_week_seq"
         FROM
           date_dim
         WHERE ("d_date" IN (CAST('2000-06-30' AS DATE)         , CAST('2000-09-27' AS DATE)         , CAST('2000-11-17' AS DATE)))
      ))
   ))
      AND ("wr_returned_date_sk" = "d_date_sk")
   GROUP BY "i_item_id"
) 
SELECT
  "sr_items"."item_id"
, "sr_item_qty"
, (floor(((CAST("sr_item_qty" AS DOUBLE) / ("sr_item_qty" + "cr_item_qty" + "wr_item_qty")) / 3e0) * 100 * 100 + 0.5) / 1e2) "sr_dev"
, "cr_item_qty"
, (floor(((CAST("cr_item_qty" AS DOUBLE) / ("sr_item_qty" + "cr_item_qty" + "wr_item_qty")) / 3e0) * 100 * 100 + 0.5) / 1e2) "cr_dev"
, "wr_item_qty"
, (floor(((CAST("wr_item_qty" AS DOUBLE) / ("sr_item_qty" + "cr_item_qty" + "wr_item_qty")) / 3e0) * 100 * 100 + 0.5) / 1e2) "wr_dev"
, (floor((("sr_item_qty" + "cr_item_qty" + "wr_item_qty") / 3e0) * 10000 + 0.5) / 1e4) "average"
FROM
  sr_items
, cr_items
, wr_items
WHERE ("sr_items"."item_id" = "cr_items"."item_id")
   AND ("sr_items"."item_id" = "wr_items"."item_id")
ORDER BY "sr_items"."item_id" ASC, "sr_item_qty" ASC
LIMIT 100
"""

_add("q83", _TEXT_Q83, "TPC-DS q83: matched-item return quantities across 3 channels with share-of-total ratios (vendored: testing/trino-benchmark-queries/.../tpcds/q83.sql).")


_TEXT_Q84 = r"""
SELECT
  "c_customer_id" "customer_id"
, "concat"("concat"("c_last_name", ', '), "c_first_name") "customername"
FROM
  customer
, customer_address
, customer_demographics
, household_demographics
, income_band
, store_returns
WHERE ("ca_city" = 'Edgewood')
   AND ("c_current_addr_sk" = "ca_address_sk")
   AND ("ib_lower_bound" >= 38128)
   AND ("ib_upper_bound" <= (38128 + 50000))
   AND ("ib_income_band_sk" = "hd_income_band_sk")
   AND ("cd_demo_sk" = "c_current_cdemo_sk")
   AND ("hd_demo_sk" = "c_current_hdemo_sk")
   AND ("sr_cdemo_sk" = "cd_demo_sk")
ORDER BY "c_customer_id" ASC
LIMIT 100
"""

_add("q84", _TEXT_Q84, "TPC-DS q84: income-band city customers with store returns (5-dim snowflake) (vendored: testing/trino-benchmark-queries/.../tpcds/q84.sql).")


_TEXT_Q85 = r"""
SELECT
  "substr"("r_reason_desc", 1, 20) "reason_20"
, (floor("avg"("ws_quantity") * 10000 + 0.5) / 1e4) "avg_qty"
, (floor((2 * CAST("sum"("wr_refunded_cash") * 1000 AS BIGINT) + "count"("wr_refunded_cash")) / (2e0 * "count"("wr_refunded_cash"))) / 1e3) "avg_cash"
, (floor((2 * CAST("sum"("wr_fee") * 1000 AS BIGINT) + "count"("wr_fee")) / (2e0 * "count"("wr_fee"))) / 1e3) "avg_fee"
FROM
  web_sales
, web_returns
, web_page
, customer_demographics cd1
, customer_demographics cd2
, customer_address
, date_dim
, reason
WHERE ("ws_web_page_sk" = "wp_web_page_sk")
   AND ("ws_item_sk" = "wr_item_sk")
   AND ("ws_order_number" = "wr_order_number")
   AND ("ws_sold_date_sk" = "d_date_sk")
   AND ("d_year" = 2000)
   AND ("cd1"."cd_demo_sk" = "wr_refunded_cdemo_sk")
   AND ("cd2"."cd_demo_sk" = "wr_returning_cdemo_sk")
   AND ("ca_address_sk" = "wr_refunded_addr_sk")
   AND ("r_reason_sk" = "wr_reason_sk")
   AND ((("cd1"."cd_marital_status" = 'M')
         AND ("cd1"."cd_marital_status" = "cd2"."cd_marital_status")
         AND ("cd1"."cd_education_status" = 'Advanced Degree')
         AND ("cd1"."cd_education_status" = "cd2"."cd_education_status")
         AND ("ws_sales_price" BETWEEN DECIMAL '100.00' AND DECIMAL '150.00'))
      OR (("cd1"."cd_marital_status" = 'S')
         AND ("cd1"."cd_marital_status" = "cd2"."cd_marital_status")
         AND ("cd1"."cd_education_status" = 'College')
         AND ("cd1"."cd_education_status" = "cd2"."cd_education_status")
         AND ("ws_sales_price" BETWEEN DECIMAL '50.00' AND DECIMAL '100.00'))
      OR (("cd1"."cd_marital_status" = 'W')
         AND ("cd1"."cd_marital_status" = "cd2"."cd_marital_status")
         AND ("cd1"."cd_education_status" = '2 yr Degree')
         AND ("cd1"."cd_education_status" = "cd2"."cd_education_status")
         AND ("ws_sales_price" BETWEEN DECIMAL '150.00' AND DECIMAL '200.00')))
   AND ((("ca_country" = 'United States')
         AND ("ca_state" IN ('IN'      , 'OH'      , 'NJ'))
         AND ("ws_net_profit" BETWEEN 100 AND 200))
      OR (("ca_country" = 'United States')
         AND ("ca_state" IN ('WI'      , 'CT'      , 'KY'))
         AND ("ws_net_profit" BETWEEN 150 AND 300))
      OR (("ca_country" = 'United States')
         AND ("ca_state" IN ('LA'      , 'IA'      , 'AR'))
         AND ("ws_net_profit" BETWEEN 50 AND 250)))
GROUP BY "r_reason_desc"
ORDER BY "reason_20" ASC, "avg_qty" ASC, "avg_cash" ASC, "avg_fee" ASC
LIMIT 100
"""

_add("q85", _TEXT_Q85, "TPC-DS q85: web return reasons by demographic x address x price-band triples (vendored: testing/trino-benchmark-queries/.../tpcds/q85.sql).")


_TEXT_Q86 = r"""
SELECT
  CAST("sum"("ws_net_paid") AS DOUBLE) "total_sum"
, "i_category"
, "i_class"
, (GROUPING ("i_category") + GROUPING ("i_class")) "lochierarchy"
, "rank"() OVER (PARTITION BY (GROUPING ("i_category") + GROUPING ("i_class")), (CASE WHEN (GROUPING ("i_class") = 0) THEN "i_category" END) ORDER BY "sum"("ws_net_paid") DESC) "rank_within_parent"
FROM
  web_sales
, date_dim d1
, item
WHERE ("d1"."d_month_seq" BETWEEN 1200 AND (1200 + 11))
   AND ("d1"."d_date_sk" = "ws_sold_date_sk")
   AND ("i_item_sk" = "ws_item_sk")
GROUP BY ROLLUP (i_category, i_class)
ORDER BY "lochierarchy" DESC, (CASE WHEN ("lochierarchy" = 0) THEN "i_category" END) ASC, "rank_within_parent" ASC
LIMIT 100
"""

_add("q86", _TEXT_Q86, "TPC-DS q86: web net-paid ROLLUP hierarchy with GROUPING() rank (q36's shape on web_sales) (vendored: testing/trino-benchmark-queries/.../tpcds/q86.sql).")


_TEXT_Q87 = r"""
SELECT CAST("count"(*) AS BIGINT) "cnt"
FROM
  (
(
      SELECT DISTINCT
        "c_last_name"
      , "c_first_name"
      , "d_date"
      FROM
        store_sales
      , date_dim
      , customer
      WHERE ("store_sales"."ss_sold_date_sk" = "date_dim"."d_date_sk")
         AND ("store_sales"."ss_customer_sk" = "customer"."c_customer_sk")
         AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   ) EXCEPT (
      SELECT DISTINCT
        "c_last_name"
      , "c_first_name"
      , "d_date"
      FROM
        catalog_sales
      , date_dim
      , customer
      WHERE ("catalog_sales"."cs_sold_date_sk" = "date_dim"."d_date_sk")
         AND ("catalog_sales"."cs_bill_customer_sk" = "customer"."c_customer_sk")
         AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   ) EXCEPT (
      SELECT DISTINCT
        "c_last_name"
      , "c_first_name"
      , "d_date"
      FROM
        web_sales
      , date_dim
      , customer
      WHERE ("web_sales"."ws_sold_date_sk" = "date_dim"."d_date_sk")
         AND ("web_sales"."ws_bill_customer_sk" = "customer"."c_customer_sk")
         AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   ) )  cool_cust
"""

_add("q87", _TEXT_Q87, "TPC-DS q87: store-minus-catalog-minus-web customer-date EXCEPT chain (vendored: testing/trino-benchmark-queries/.../tpcds/q87.sql).")


_TEXT_Q88 = r"""
SELECT *
FROM
  (
   SELECT "count"(*) "h8_30_to_9"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 8)
      AND ("time_dim"."t_minute" >= 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s1
, (
   SELECT "count"(*) "h9_to_9_30"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 9)
      AND ("time_dim"."t_minute" < 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s2
, (
   SELECT "count"(*) "h9_30_to_10"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 9)
      AND ("time_dim"."t_minute" >= 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s3
, (
   SELECT "count"(*) "h10_to_10_30"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 10)
      AND ("time_dim"."t_minute" < 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s4
, (
   SELECT "count"(*) "h10_30_to_11"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 10)
      AND ("time_dim"."t_minute" >= 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s5
, (
   SELECT "count"(*) "h11_to_11_30"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 11)
      AND ("time_dim"."t_minute" < 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s6
, (
   SELECT "count"(*) "h11_30_to_12"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 11)
      AND ("time_dim"."t_minute" >= 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s7
, (
   SELECT "count"(*) "h12_to_12_30"
   FROM
     store_sales
   , household_demographics
   , time_dim
   , store
   WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("time_dim"."t_hour" = 12)
      AND ("time_dim"."t_minute" < 30)
      AND ((("household_demographics"."hd_dep_count" = 4)
            AND ("household_demographics"."hd_vehicle_count" <= (4 + 2)))
         OR (("household_demographics"."hd_dep_count" = 2)
            AND ("household_demographics"."hd_vehicle_count" <= (2 + 2)))
         OR (("household_demographics"."hd_dep_count" = 0)
            AND ("household_demographics"."hd_vehicle_count" <= (0 + 2))))
      AND ("store"."s_store_name" = 'ese')
)  s8
"""

_add("q88", _TEXT_Q88, "TPC-DS q88: 8 half-hour traffic-count subqueries cross-joined into one row (vendored: testing/trino-benchmark-queries/.../tpcds/q88.sql).")


_TEXT_Q89 = r"""
SELECT *
FROM
  (
   SELECT
     "i_category"
   , "i_class"
   , "i_brand"
   , "s_store_name"
   , "s_company_name"
   , "d_moy"
   , CAST("sum"("ss_sales_price") AS DOUBLE) "sum_sales"
   , (floor((2 * CAST(("sum"("sum"("ss_sales_price")) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name")) * 1000 AS BIGINT) + ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name"))) / (2e0 * ("count"(*) OVER (PARTITION BY "i_category", "i_brand", "s_store_name", "s_company_name")))) / 1e3) "avg_monthly_sales"
   FROM
     item
   , store_sales
   , date_dim
   , store
   WHERE ("ss_item_sk" = "i_item_sk")
      AND ("ss_sold_date_sk" = "d_date_sk")
      AND ("ss_store_sk" = "s_store_sk")
      AND ("d_year" IN (1999))
      AND ((("i_category" IN ('Books'         , 'Electronics'         , 'Sports'))
            AND ("i_class" IN ('computers'         , 'stereo'         , 'football')))
         OR (("i_category" IN ('Men'         , 'Jewelry'         , 'Women'))
            AND ("i_class" IN ('shirts'         , 'birdal'         , 'dresses'))))
   GROUP BY "i_category", "i_class", "i_brand", "s_store_name", "s_company_name", "d_moy"
)  tmp1
WHERE ((CASE WHEN ("avg_monthly_sales" <> 0) THEN ("abs"(("sum_sales" - "avg_monthly_sales")) / "avg_monthly_sales") ELSE null END) > DECIMAL '0.1')
ORDER BY ("sum_sales" - "avg_monthly_sales") ASC, "s_store_name" ASC
LIMIT 100
"""

_add("q89", _TEXT_Q89, "TPC-DS q89: monthly category sales vs the rolling category average (window avg over grouped sums) (vendored: testing/trino-benchmark-queries/.../tpcds/q89.sql).")


_TEXT_Q90 = r"""
SELECT (CAST("amc" AS DOUBLE) / CAST("pmc" AS DOUBLE)) "am_pm_ratio"
FROM
  (
   SELECT "count"(*) "amc"
   FROM
     web_sales
   , household_demographics
   , time_dim
   , web_page
   WHERE ("ws_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ws_ship_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ws_web_page_sk" = "web_page"."wp_web_page_sk")
      AND ("time_dim"."t_hour" BETWEEN 8 AND (8 + 1))
      AND ("household_demographics"."hd_dep_count" = 6)
      AND ("web_page"."wp_char_count" BETWEEN 5000 AND 5200)
)  "at"
, (
   SELECT "count"(*) "pmc"
   FROM
     web_sales
   , household_demographics
   , time_dim
   , web_page
   WHERE ("ws_sold_time_sk" = "time_dim"."t_time_sk")
      AND ("ws_ship_hdemo_sk" = "household_demographics"."hd_demo_sk")
      AND ("ws_web_page_sk" = "web_page"."wp_web_page_sk")
      AND ("time_dim"."t_hour" BETWEEN 19 AND (19 + 1))
      AND ("household_demographics"."hd_dep_count" = 6)
      AND ("web_page"."wp_char_count" BETWEEN 5000 AND 5200)
)  pt
ORDER BY "am_pm_ratio" ASC
LIMIT 100
"""

_add("q90", _TEXT_Q90, "TPC-DS q90: morning/evening web traffic ratio for a dependents band (vendored: testing/trino-benchmark-queries/.../tpcds/q90.sql).")


_TEXT_Q91 = r"""
SELECT
  "cc_call_center_id" "Call_Center"
, "cc_name" "Call_Center_Name"
, "cc_manager" "Manager"
, CAST("sum"("cr_net_loss") AS DOUBLE) "Returns_Loss"
FROM
  call_center
, catalog_returns
, date_dim
, customer
, customer_address
, customer_demographics
, household_demographics
WHERE ("cr_call_center_sk" = "cc_call_center_sk")
   AND ("cr_returned_date_sk" = "d_date_sk")
   AND ("cr_returning_customer_sk" = "c_customer_sk")
   AND ("cd_demo_sk" = "c_current_cdemo_sk")
   AND ("hd_demo_sk" = "c_current_hdemo_sk")
   AND ("ca_address_sk" = "c_current_addr_sk")
   AND ("d_year" = 1998)
   AND ("d_moy" = 11)
   AND ((("cd_marital_status" = 'M')
         AND ("cd_education_status" = 'Unknown'))
      OR (("cd_marital_status" = 'W')
         AND ("cd_education_status" = 'Advanced Degree')))
   AND ("hd_buy_potential" LIKE 'Unknown%')
   AND ("ca_gmt_offset" = -7)
GROUP BY "cc_call_center_id", "cc_name", "cc_manager", "cd_marital_status", "cd_education_status"
ORDER BY "sum"("cr_net_loss") DESC
"""

_add("q91", _TEXT_Q91, "TPC-DS q91: call-center catalog return losses for selected demographics (vendored: testing/trino-benchmark-queries/.../tpcds/q91.sql).")


_TEXT_Q92 = r"""
SELECT CAST("sum"("ws_ext_discount_amt") AS DOUBLE) "Excess Discount Amount"
FROM
  web_sales
, item
, date_dim
WHERE ("i_manufact_id" = 350)
   AND ("i_item_sk" = "ws_item_sk")
   AND ("d_date" BETWEEN CAST('2000-01-27' AS DATE) AND (CAST('2000-01-27' AS DATE) + INTERVAL  '90' DAY))
   AND ("d_date_sk" = "ws_sold_date_sk")
   AND ("ws_ext_discount_amt" > (
      SELECT (DECIMAL '1.3' * "avg"("ws_ext_discount_amt"))
      FROM
        web_sales
      , date_dim
      WHERE ("ws_item_sk" = "i_item_sk")
         AND ("d_date" BETWEEN CAST('2000-01-27' AS DATE) AND (CAST('2000-01-27' AS DATE) + INTERVAL  '90' DAY))
         AND ("d_date_sk" = "ws_sold_date_sk")
   ))
ORDER BY "sum"("ws_ext_discount_amt") ASC
LIMIT 100
"""

_add("q92", _TEXT_Q92, "TPC-DS q92: web excess discount: discounts beating 1.3x the item average (correlated scalar subquery) (vendored: testing/trino-benchmark-queries/.../tpcds/q92.sql).")


_TEXT_Q93 = r"""
SELECT
  "ss_customer_sk"
, CAST("sum"("act_sales") AS DOUBLE) "sumsales"
FROM
  (
   SELECT
     "ss_item_sk"
   , "ss_ticket_number"
   , "ss_customer_sk"
   , (CASE WHEN ("sr_return_quantity" IS NOT NULL) THEN (("ss_quantity" - "sr_return_quantity") * "ss_sales_price") ELSE ("ss_quantity" * "ss_sales_price") END) "act_sales"
   FROM
     (store_sales
   LEFT JOIN store_returns ON ("sr_item_sk" = "ss_item_sk")
      AND ("sr_ticket_number" = "ss_ticket_number"))
   , reason
   WHERE ("sr_reason_sk" = "r_reason_sk")
      AND ("r_reason_desc" = 'reason 28')
)  t
GROUP BY "ss_customer_sk"
ORDER BY "sumsales" ASC, "ss_customer_sk" ASC
LIMIT 100
"""

_add("q93", _TEXT_Q93, "TPC-DS q93: store sales net of returned quantity for one return reason (vendored: testing/trino-benchmark-queries/.../tpcds/q93.sql).")


_TEXT_Q94 = r"""
SELECT
  "count"(DISTINCT "ws_order_number") "order count"
, CAST("sum"("ws_ext_ship_cost") AS DOUBLE) "total shipping cost"
, CAST("sum"("ws_net_profit") AS DOUBLE) "total net profit"
FROM
  web_sales ws1
, date_dim
, customer_address
, web_site
WHERE ("d_date" BETWEEN CAST('1999-2-01' AS DATE) AND (CAST('1999-2-01' AS DATE) + INTERVAL  '60' DAY))
   AND ("ws1"."ws_ship_date_sk" = "d_date_sk")
   AND ("ws1"."ws_ship_addr_sk" = "ca_address_sk")
   AND ("ca_state" = 'IL')
   AND ("ws1"."ws_web_site_sk" = "web_site_sk")
   AND ("web_company_name" = 'pri')
   AND (EXISTS (
   SELECT *
   FROM
     web_sales ws2
   WHERE ("ws1"."ws_order_number" = "ws2"."ws_order_number")
      AND ("ws1"."ws_warehouse_sk" <> "ws2"."ws_warehouse_sk")
))
   AND (NOT (EXISTS (
   SELECT *
   FROM
     web_returns wr1
   WHERE ("ws1"."ws_order_number" = "wr1"."wr_order_number")
)))
ORDER BY "count"(DISTINCT "ws_order_number") ASC
LIMIT 100
"""

_add("q94", _TEXT_Q94, "TPC-DS q94: web orders shipped cross-warehouse with no returns (vendored: testing/trino-benchmark-queries/.../tpcds/q94.sql).")


_TEXT_Q95 = r"""
WITH
  ws_wh AS (
   SELECT
     "ws1"."ws_order_number"
   , "ws1"."ws_warehouse_sk" "wh1"
   , "ws2"."ws_warehouse_sk" "wh2"
   FROM
     web_sales ws1
   , web_sales ws2
   WHERE ("ws1"."ws_order_number" = "ws2"."ws_order_number")
      AND ("ws1"."ws_warehouse_sk" <> "ws2"."ws_warehouse_sk")
) 
SELECT
  "count"(DISTINCT "ws_order_number") "order count"
, CAST("sum"("ws_ext_ship_cost") AS DOUBLE) "total shipping cost"
, CAST("sum"("ws_net_profit") AS DOUBLE) "total net profit"
FROM
  web_sales ws1
, date_dim
, customer_address
, web_site
WHERE (CAST("d_date" AS DATE) BETWEEN CAST('1999-2-01' AS DATE) AND (CAST('1999-2-01' AS DATE) + INTERVAL  '60' DAY))
   AND ("ws1"."ws_ship_date_sk" = "d_date_sk")
   AND ("ws1"."ws_ship_addr_sk" = "ca_address_sk")
   AND ("ca_state" = 'IL')
   AND ("ws1"."ws_web_site_sk" = "web_site_sk")
   AND ("web_company_name" = 'pri')
   AND ("ws1"."ws_order_number" IN (
   SELECT "ws_order_number"
   FROM
     ws_wh
))
   AND ("ws1"."ws_order_number" IN (
   SELECT "wr_order_number"
   FROM
     web_returns
   , ws_wh
   WHERE ("wr_order_number" = "ws_wh"."ws_order_number")
))
ORDER BY "count"(DISTINCT "ws_order_number") ASC
LIMIT 100
"""

_add("q95", _TEXT_Q95, "TPC-DS q95: q94 via a self-joined ws_wh CTE (IN-subquery form) (vendored: testing/trino-benchmark-queries/.../tpcds/q95.sql).")


_TEXT_Q96 = r"""
SELECT CAST("count"(*) AS BIGINT) "cnt"
FROM
  store_sales
, household_demographics
, time_dim
, store
WHERE ("ss_sold_time_sk" = "time_dim"."t_time_sk")
   AND ("ss_hdemo_sk" = "household_demographics"."hd_demo_sk")
   AND ("ss_store_sk" = "s_store_sk")
   AND ("time_dim"."t_hour" = 20)
   AND ("time_dim"."t_minute" >= 30)
   AND ("household_demographics"."hd_dep_count" = 7)
   AND ("store"."s_store_name" = 'ese')
ORDER BY "cnt" ASC
LIMIT 100
"""

_add("q96", _TEXT_Q96, "TPC-DS q96: traffic count for one half-hour x dependents-count x store-name slice (vendored: testing/trino-benchmark-queries/.../tpcds/q96.sql).")


_TEXT_Q97 = r"""
WITH
  ssci AS (
   SELECT
     "ss_customer_sk" "customer_sk"
   , "ss_item_sk" "item_sk"
   FROM
     store_sales
   , date_dim
   WHERE ("ss_sold_date_sk" = "d_date_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   GROUP BY "ss_customer_sk", "ss_item_sk"
) 
, csci AS (
   SELECT
     "cs_bill_customer_sk" "customer_sk"
   , "cs_item_sk" "item_sk"
   FROM
     catalog_sales
   , date_dim
   WHERE ("cs_sold_date_sk" = "d_date_sk")
      AND ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   GROUP BY "cs_bill_customer_sk", "cs_item_sk"
) 
SELECT
  CAST("sum"((CASE WHEN ("ssci"."customer_sk" IS NOT NULL)
   AND ("csci"."customer_sk" IS NULL) THEN 1 ELSE 0 END)) AS BIGINT) "store_only"
, CAST("sum"((CASE WHEN ("ssci"."customer_sk" IS NULL)
   AND ("csci"."customer_sk" IS NOT NULL) THEN 1 ELSE 0 END)) AS BIGINT) "catalog_only"
, CAST("sum"((CASE WHEN ("ssci"."customer_sk" IS NOT NULL)
   AND ("csci"."customer_sk" IS NOT NULL) THEN 1 ELSE 0 END)) AS BIGINT) "store_and_catalog"
FROM
  (ssci
FULL JOIN csci ON ("ssci"."customer_sk" = "csci"."customer_sk")
   AND ("ssci"."item_sk" = "csci"."item_sk"))
LIMIT 100
"""

_add("q97", _TEXT_Q97, "TPC-DS q97: store-vs-catalog shopper overlap: grouped channels FULL JOIN + conditional sums (vendored: testing/trino-benchmark-queries/.../tpcds/q97.sql).")


_TEXT_Q98 = r"""
SELECT
  "i_item_id"
, "i_item_desc"
, "i_category"
, "i_class"
, CAST("i_current_price" AS DOUBLE) "i_current_price"
, CAST("sum"("ss_ext_sales_price") AS DOUBLE) "itemrevenue"
, (floor((((CAST("sum"("ss_ext_sales_price") AS DOUBLE) * 100) / CAST("sum"("sum"("ss_ext_sales_price")) OVER (PARTITION BY "i_class") AS DOUBLE))) * 1000000 + 0.5) / 1e6) "revenueratio"
FROM
  store_sales
, item
, date_dim
WHERE ("ss_item_sk" = "i_item_sk")
   AND ("i_category" IN ('Sports', 'Books', 'Home'))
   AND ("ss_sold_date_sk" = "d_date_sk")
   AND (CAST("d_date" AS DATE) BETWEEN CAST('1999-02-22' AS DATE) AND (CAST('1999-02-22' AS DATE) + INTERVAL  '30' DAY))
GROUP BY "i_item_id", "i_item_desc", "i_category", "i_class", "i_current_price"
ORDER BY "i_category" ASC, "i_class" ASC, "i_item_id" ASC, "i_item_desc" ASC, "revenueratio" ASC
"""

_add("q98", _TEXT_Q98, "TPC-DS q98: item revenue and intra-class revenue ratio (window aggregate over aggregate), 30-day window (vendored: testing/trino-benchmark-queries/.../tpcds/q98.sql).")


_TEXT_Q99 = r"""
SELECT
  "substr"("w_warehouse_name", 1, 20)
 "wh_20"
, "sm_type"
, "cc_name"
, CAST("sum"((CASE WHEN (("cs_ship_date_sk" - "cs_sold_date_sk") <= 30) THEN 1 ELSE 0 END)) AS BIGINT) "30 days"
, CAST("sum"((CASE WHEN (("cs_ship_date_sk" - "cs_sold_date_sk") > 30)
   AND (("cs_ship_date_sk" - "cs_sold_date_sk") <= 60) THEN 1 ELSE 0 END)) AS BIGINT) "31-60 days"
, CAST("sum"((CASE WHEN (("cs_ship_date_sk" - "cs_sold_date_sk") > 60)
   AND (("cs_ship_date_sk" - "cs_sold_date_sk") <= 90) THEN 1 ELSE 0 END)) AS BIGINT) "61-90 days"
, CAST("sum"((CASE WHEN (("cs_ship_date_sk" - "cs_sold_date_sk") > 90)
   AND (("cs_ship_date_sk" - "cs_sold_date_sk") <= 120) THEN 1 ELSE 0 END)) AS BIGINT) "91-120 days"
, CAST("sum"((CASE WHEN (("cs_ship_date_sk" - "cs_sold_date_sk") > 120) THEN 1 ELSE 0 END)) AS BIGINT) ">120 days"
FROM
  catalog_sales
, warehouse
, ship_mode
, call_center
, date_dim
WHERE ("d_month_seq" BETWEEN 1200 AND (1200 + 11))
   AND ("cs_ship_date_sk" = "d_date_sk")
   AND ("cs_warehouse_sk" = "w_warehouse_sk")
   AND ("cs_ship_mode_sk" = "sm_ship_mode_sk")
   AND ("cs_call_center_sk" = "cc_call_center_sk")
GROUP BY "substr"("w_warehouse_name", 1, 20), "sm_type", "cc_name"
ORDER BY "substr"("w_warehouse_name", 1, 20) ASC, "sm_type" ASC, "cc_name" ASC
LIMIT 100
"""

_add("q99", _TEXT_Q99, "TPC-DS q99: catalog ship-latency buckets by warehouse/ship-mode/call-center (vendored: testing/trino-benchmark-queries/.../tpcds/q99.sql).")

