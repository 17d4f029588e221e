"""ClickHouse-dialect translation: every documented mapping is pinned
by an EXECUTED example — the translated query must return exactly the
same rows as the hand-written Spark SQL a porting user would arrive at
(same engine on both sides, so equality is exact, floats included)."""

from __future__ import annotations

import pytest

from mkpipe_extractor_clickhouse_spark.catalog import register_views
from mkpipe_extractor_clickhouse_spark.sources.ch_dialect import (
    ChDialectError,
    translate,
)


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    register_views(spark, sf_dir)


def _same(spark, ch_sql: str, spark_sql: str):
    got = spark.sql(translate(ch_sql))
    want = spark.sql(spark_sql)
    assert got.columns == want.columns, (got.columns, want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---- conditional combinators -----------------------------------------------


def test_count_if_and_sum_if(spark):
    _same(
        spark,
        """SELECT event_type, countIf(value > 100) AS big,
                  sumIf(value, value > 100) AS s,
                  avgIf(value, value > 100) AS a
           FROM events GROUP BY event_type""",
        """SELECT event_type, count_if(value > 100) AS big,
                  sum(CASE WHEN value > 100 THEN value END) AS s,
                  avg(CASE WHEN value > 100 THEN value END) AS a
           FROM events GROUP BY event_type""",
    )


def test_bare_count_is_row_count(spark):
    # ClickHouse's zero-argument count() counts rows; Spark rejects
    # the bare call, so it must reach Spark as count(*)
    _same(
        spark,
        """SELECT event_type, count() AS n, COUNT( ) AS m,
                  countIf(value > 100) AS big
           FROM events GROUP BY event_type""",
        """SELECT event_type, count(*) AS n, count(*) AS m,
                  count_if(value > 100) AS big
           FROM events GROUP BY event_type""",
    )


def test_min_max_if_nested_parens(spark):
    # nested function calls + commas inside the condition must split
    # on TOP-LEVEL commas only
    _same(
        spark,
        """SELECT minIf(value, event_type IN ('click', 'view')) AS m,
                  maxIf(value, coalesce(event_type, 'x') = 'click') AS x
           FROM events""",
        """SELECT min(CASE WHEN event_type IN ('click', 'view')
                           THEN value END) AS m,
                  max(CASE WHEN coalesce(event_type, 'x') = 'click'
                           THEN value END) AS x
           FROM events""",
    )


# ---- renames and casts -----------------------------------------------------


def test_date_functions(spark):
    _same(
        spark,
        """SELECT toDate(ts) AS d, toYear(ts) AS y, toMonth(ts) AS m,
                  toDayOfMonth(ts) AS dom, toHour(ts) AS h,
                  toStartOfDay(ts) AS sod, toStartOfMonth(ts) AS som,
                  toYYYYMM(ts) AS yyyymm
           FROM events WHERE event_id < 100""",
        """SELECT to_date(ts) AS d, year(ts) AS y, month(ts) AS m,
                  day(ts) AS dom, hour(ts) AS h,
                  date_trunc('DAY', ts) AS sod,
                  date_trunc('MONTH', ts) AS som,
                  CAST(date_format(ts, 'yyyyMM') AS INT) AS yyyymm
           FROM events WHERE event_id < 100""",
    )


def test_day_of_week_monday_first(spark):
    # CH: Monday=1 … Sunday=7
    _same(
        spark,
        "SELECT toDayOfWeek(ts) AS dow FROM events WHERE event_id < 50",
        """SELECT (((dayofweek(ts) + 5) % 7) + 1) AS dow
           FROM events WHERE event_id < 50""",
    )


def test_uniq_family(spark):
    _same(
        spark,
        """SELECT event_type, uniqExact(user_id) AS u
           FROM events GROUP BY event_type""",
        """SELECT event_type, count(DISTINCT user_id) AS u
           FROM events GROUP BY event_type""",
    )
    # uniq → approx_count_distinct: same engine both sides, exact match
    _same(
        spark,
        "SELECT uniq(user_id) AS u FROM events",
        "SELECT approx_count_distinct(user_id) AS u FROM events",
    )


def test_casts_and_string_funcs(spark):
    _same(
        spark,
        """SELECT toInt32(value) AS i, toFloat64(event_id) AS f,
                  toString(event_id) AS s,
                  position(event_type, 'ick') AS p,
                  splitByChar('_', event_type) AS parts
           FROM events WHERE event_id < 100""",
        """SELECT CAST(value AS INT) AS i, CAST(event_id AS DOUBLE) AS f,
                  CAST(event_id AS STRING) AS s,
                  position('ick', event_type) AS p,
                  split(event_type, '_') AS parts
           FROM events WHERE event_id < 100""",
    )


def test_agg_renames(spark):
    _same(
        spark,
        """SELECT user_id, argMax(event_type, ts) AS latest,
                  groupUniqArray(event_type) AS types
           FROM events GROUP BY user_id HAVING user_id < 20""",
        """SELECT user_id, max_by(event_type, ts) AS latest,
                  collect_set(event_type) AS types
           FROM events GROUP BY user_id HAVING user_id < 20""",
    )


def test_quantiles_parameterized(spark):
    _same(
        spark,
        """SELECT event_type, quantileExact(0.5)(event_id) AS med
           FROM events GROUP BY event_type""",
        """SELECT event_type, percentile(event_id, 0.5) AS med
           FROM events GROUP BY event_type""",
    )


def test_int_div_and_multi_if(spark):
    _same(
        spark,
        """SELECT intDiv(event_id, 7) AS q,
                  multiIf(value > 150, 'hi', value > 50, 'mid', 'lo') AS b
           FROM events WHERE event_id < 100""",
        """SELECT (event_id DIV 7) AS q,
                  CASE WHEN value > 150 THEN 'hi'
                       WHEN value > 50 THEN 'mid' ELSE 'lo' END AS b
           FROM events WHERE event_id < 100""",
    )


# ---- clause surgery --------------------------------------------------------


def test_prewhere_merges_with_where(spark):
    _same(
        spark,
        """SELECT event_id FROM events
           PREWHERE event_type = 'click' WHERE value > 100""",
        """SELECT event_id FROM events
           WHERE (event_type = 'click') AND value > 100""",
    )
    _same(
        spark,
        "SELECT event_id FROM events PREWHERE value > 190",
        "SELECT event_id FROM events WHERE value > 190",
    )


def test_limit_by_rewrite(spark):
    _same(
        spark,
        """SELECT user_id, event_id, value FROM events
           ORDER BY value DESC, event_id LIMIT 2 BY user_id""",
        """SELECT user_id, event_id, value FROM (
             SELECT user_id, event_id, value,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY value DESC, event_id) AS rn
             FROM events) WHERE rn <= 2""",
    )


def test_final_and_sample_raise(spark):
    with pytest.raises(ChDialectError, match="ch_replacing_final"):
        translate("SELECT * FROM events FINAL")
    with pytest.raises(ChDialectError, match="ch_sample_key"):
        translate("SELECT * FROM events SAMPLE 0.1")
    with pytest.raises(ChDialectError, match="ORDER BY"):
        translate("SELECT user_id FROM events LIMIT 2 BY user_id")


def test_ansi_passthrough(spark):
    # valid ANSI untouched by the rewriter
    sql = """SELECT event_type, count(*) AS n FROM events
             WHERE value BETWEEN 10 AND 20 GROUP BY event_type"""
    assert translate(sql).strip() == sql.strip()


# ---- extended subset -------------------------------------------------------


def test_array_lambdas_and_helpers(spark):
    _same(
        spark,
        """SELECT arrayMap(x -> x * 2, sequence(1, 3)) AS m,
                  arrayFilter(x -> x > 1, sequence(1, 3)) AS f,
                  arrayExists(x -> x = 2, sequence(1, 3)) AS e,
                  arrayAll(x -> x > 0, sequence(1, 3)) AS al,
                  arrayDistinct(array(1, 1, 2)) AS d,
                  arrayReverse(sequence(1, 3)) AS r,
                  indexOf(sequence(5, 7), 6) AS idx,
                  arraySort(array(3, 1, 2)) AS srt,
                  arrayStringConcat(array('a', 'b'), '-') AS joined,
                  empty(array()) AS is_empty,
                  notEmpty(array(1)) AS non_empty
           FROM events WHERE event_id = 1""",
        """SELECT transform(sequence(1, 3), x -> x * 2) AS m,
                  filter(sequence(1, 3), x -> x > 1) AS f,
                  exists(sequence(1, 3), x -> x = 2) AS e,
                  forall(sequence(1, 3), x -> x > 0) AS al,
                  array_distinct(array(1, 1, 2)) AS d,
                  reverse(sequence(1, 3)) AS r,
                  array_position(sequence(5, 7), 6) AS idx,
                  array_sort(array(3, 1, 2)) AS srt,
                  array_join(array('a', 'b'), '-') AS joined,
                  (size(array()) = 0) AS is_empty,
                  (size(array(1)) > 0) AS non_empty
           FROM events WHERE event_id = 1""",
    )


def test_date_arithmetic(spark):
    _same(
        spark,
        """SELECT addDays(ts, 3) AS d3, subtractHours(ts, 2) AS h2,
                  addMonths(ts, 1) AS m1,
                  dateDiff('day', ts, addDays(ts, 10)) AS dd
           FROM events WHERE event_id < 50""",
        """SELECT timestampadd(DAY, 3, ts) AS d3,
                  timestampadd(HOUR, -(2), ts) AS h2,
                  timestampadd(MONTH, 1, ts) AS m1,
                  timestampdiff(DAY, ts, timestampadd(DAY, 10, ts)) AS dd
           FROM events WHERE event_id < 50""",
    )


def test_string_predicates_and_json(spark):
    _same(
        spark,
        """SELECT startsWith(event_type, 'cl') AS sw,
                  endsWith(event_type, 'ck') AS ew,
                  match(event_type, '^c.*k$') AS m,
                  JSONExtractInt(props, 'k') AS k
           FROM events WHERE event_id < 50""",
        """SELECT startswith(event_type, 'cl') AS sw,
                  endswith(event_type, 'ck') AS ew,
                  (event_type RLIKE '^c.*k$') AS m,
                  CAST(get_json_object(props, concat('$.', 'k')) AS BIGINT) AS k
           FROM events WHERE event_id < 50""",
    )


def test_array_sort_lambda_raises():
    with pytest.raises(ChDialectError, match="arraySort"):
        translate("SELECT arraySort(x -> -x, arr) FROM t")


def test_settings_stripped(spark):
    _same(
        spark,
        """SELECT count(*) AS n FROM events SETTINGS max_threads = 8,
           max_memory_usage = 1000000""",
        "SELECT count(*) AS n FROM events",
    )


def test_final_with_configured_keys(spark):
    # ReplacingMergeTree FINAL: keep the latest version per key
    got = spark.sql(
        translate(
            """SELECT user_id, count(*) AS n FROM events FINAL
               GROUP BY user_id""",
            final_dedup_keys=("user_id",),
            final_order_col="ts",
        )
    )
    want = spark.sql(
        """SELECT user_id, count(*) AS n FROM (
             SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC) AS rn
               FROM events) WHERE rn = 1)
           GROUP BY user_id"""
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # every group deduped to exactly one row
    assert all(r.n == 1 for r in got.collect())


def test_final_through_extractor(spark, sf_dir):
    """End-to-end: a ClickHouse custom_query using FROM events FINAL
    runs through the extractor when the table config declares the
    (dedup key, version column) pair — the ReplacingMergeTree port."""
    from mkpipe_extractor_clickhouse_spark.sources.extract import (
        ParquetExtractor,
        TableConfig,
    )

    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        dedup_keys=("user_id",),
        custom_query=(
            "SELECT count(*) AS n, uniqExact(user_id) AS users "
            "FROM events FINAL"
        ),
        custom_query_dialect="clickhouse",
    )
    res = ParquetExtractor(sf_dir).extract(table, spark)
    row = res.df.collect()[0]
    # FINAL keeps exactly one (latest) row per user
    assert row.n == row.users


def test_named_operator_functions(spark):
    _same(
        spark,
        """SELECT plus(event_id, 1) AS p, minus(event_id, 1) AS m,
                  multiply(event_id, 3) AS t, modulo(event_id, 7) AS md,
                  negate(event_id) AS neg,
                  equals(event_type, 'click') AS eq,
                  greater(value, 100) AS gt,
                  isNull(event_type) AS isn,
                  isNotNull(event_type) AS isnn,
                  arrayElement(sequence(5, 9), 2) AS el
           FROM events WHERE event_id < 50""",
        """SELECT (event_id + 1) AS p, (event_id - 1) AS m,
                  (event_id * 3) AS t, (event_id % 7) AS md,
                  (-(event_id)) AS neg,
                  (event_type = 'click') AS eq,
                  (value > 100) AS gt,
                  (event_type IS NULL) AS isn,
                  (event_type IS NOT NULL) AS isnn,
                  element_at(sequence(5, 9), 2) AS el
           FROM events WHERE event_id < 50""",
    )


def test_array_count_first(spark):
    _same(
        spark,
        """SELECT arrayCount(x -> x > 6, sequence(5, 9)) AS c,
                  arrayFirst(x -> x > 6, sequence(5, 9)) AS f,
                  arrayFirstIndex(x -> x > 6, sequence(5, 9)) AS fi,
                  arrayFirstIndex(x -> x > 99, sequence(5, 9)) AS none
           FROM events WHERE event_id = 1""",
        """SELECT size(filter(sequence(5, 9), x -> x > 6)) AS c,
                  try_element_at(filter(sequence(5, 9), x -> x > 6), 1) AS f,
                  coalesce(array_position(sequence(5, 9),
                    try_element_at(filter(sequence(5, 9), x -> x > 6), 1)), 0)
                    AS fi,
                  coalesce(array_position(sequence(5, 9),
                    try_element_at(filter(sequence(5, 9), x -> x > 99), 1)), 0)
                    AS none
           FROM events WHERE event_id = 1""",
    )


def test_count_substrings(spark):
    _same(
        spark,
        """SELECT countSubstrings(event_type, 'c') AS c1,
                  countSubstrings(event_type, 'ick') AS c2
           FROM events WHERE event_id < 50""",
        """SELECT ((length(event_type) - length(replace(event_type, 'c', '')))
                   DIV length('c')) AS c1,
                  ((length(event_type) - length(replace(event_type, 'ick', '')))
                   DIV length('ick')) AS c2
           FROM events WHERE event_id < 50""",
    )


# ---- round-3 continuation: array toolkit -----------------------------------


def test_array_slice_sum_avg(spark):
    _same(
        spark,
        """SELECT arraySlice(sequence(5, 9), 2, 2) AS sl,
                  arraySlice(sequence(5, 9), 3) AS open_end,
                  arraySlice(sequence(5, 9), -2) AS neg_start,
                  arraySum(sequence(5, 9)) AS s,
                  arraySum(x -> x * 2, sequence(5, 9)) AS s2,
                  arrayAvg(sequence(5, 9)) AS av
           FROM events WHERE event_id = 1""",
        """SELECT slice(sequence(5, 9), 2, 2) AS sl,
                  slice(sequence(5, 9), 3, 5) AS open_end,
                  slice(sequence(5, 9), -2, 5) AS neg_start,
                  CAST(35 AS DOUBLE) AS s,
                  CAST(70 AS DOUBLE) AS s2,
                  CAST(7 AS DOUBLE) AS av
           FROM events WHERE event_id = 1""",
    )


def test_array_push_pop_uniq(spark):
    _same(
        spark,
        """SELECT arrayPushBack(sequence(1, 3), 9) AS pb,
                  arrayPushFront(sequence(1, 3), 0) AS pf,
                  arrayPopBack(sequence(1, 3)) AS popb,
                  arrayPopFront(sequence(1, 3)) AS popf,
                  arrayUniq(arrayConcat(sequence(1, 3), sequence(2, 4))) AS u
           FROM events WHERE event_id = 1""",
        """SELECT concat(sequence(1, 3), array(9)) AS pb,
                  concat(array(0), sequence(1, 3)) AS pf,
                  array(1, 2) AS popb,
                  array(2, 3) AS popf,
                  4 AS u
           FROM events WHERE event_id = 1""",
    )


def test_has_all_any_range(spark):
    _same(
        spark,
        """SELECT hasAll(sequence(1, 5), sequence(2, 3)) AS all_in,
                  hasAll(sequence(1, 5), sequence(4, 7)) AS not_all,
                  hasAny(sequence(1, 5), sequence(5, 8)) AS any_in,
                  range(4) AS r0,
                  range(0) AS r_empty,
                  range(2, 5) AS r2
           FROM events WHERE event_id = 1""",
        """SELECT true AS all_in, false AS not_all, true AS any_in,
                  array(0, 1, 2, 3) AS r0,
                  slice(sequence(0, 0), 1, 0) AS r_empty,
                  array(2, 3, 4) AS r2
           FROM events WHERE event_id = 1""",
    )


def test_array_min_max_flatten_zip(spark):
    _same(
        spark,
        """SELECT arrayMin(sequence(3, 7)) AS mn,
                  arrayMax(sequence(3, 7)) AS mx,
                  arrayFlatten(array(sequence(1, 2), sequence(3, 4))) AS fl
           FROM events WHERE event_id = 1""",
        """SELECT 3 AS mn, 7 AS mx, sequence(1, 4) AS fl
           FROM events WHERE event_id = 1""",
    )


# ---- tuples ----------------------------------------------------------------


def test_tuple_element(spark):
    _same(
        spark,
        """SELECT tupleElement(tuple(event_id, event_type), 1) AS id,
                  tupleElement(tuple(event_id, event_type), 2) AS ty
           FROM events WHERE event_id < 20""",
        """SELECT event_id AS id, event_type AS ty
           FROM events WHERE event_id < 20""",
    )


# ---- LIKE family and regex -------------------------------------------------


def test_like_function_forms(spark):
    _same(
        spark,
        """SELECT like(event_type, 'cl%') AS l,
                  notLike(event_type, 'cl%') AS nl,
                  ilike(event_type, 'CL%') AS il,
                  notILike(event_type, 'CL%') AS nil
           FROM events WHERE event_id < 50""",
        """SELECT event_type LIKE 'cl%' AS l,
                  event_type NOT LIKE 'cl%' AS nl,
                  event_type ILIKE 'CL%' AS il,
                  event_type NOT ILIKE 'CL%' AS nil
           FROM events WHERE event_id < 50""",
    )


def test_like_operator_with_parenthesized_pattern_untouched(spark):
    # `x LIKE ('cl%')` is the OPERATOR — must stay an operator
    _same(
        spark,
        "SELECT event_type LIKE ('cl%') AS l FROM events WHERE event_id < 50",
        "SELECT event_type LIKE 'cl%' AS l FROM events WHERE event_id < 50",
    )


def test_extract_and_extract_all(spark):
    _same(
        spark,
        """SELECT extract(event_type, '[a-z]+') AS whole,
                  extract(props, '"k": (\\d+)') AS grp,
                  extractAll(props, '\\d') AS digits,
                  extract(YEAR FROM ts) AS y
           FROM events WHERE event_id < 20""",
        """SELECT regexp_extract(event_type, '[a-z]+', 0) AS whole,
                  regexp_extract(props, '"k": (\\d+)', 1) AS grp,
                  regexp_extract_all(props, '\\d', 0) AS digits,
                  extract(YEAR FROM ts) AS y
           FROM events WHERE event_id < 20""",
    )


def test_replace_family(spark):
    _same(
        spark,
        """SELECT replaceAll(event_type, 'c', 'k') AS ra,
                  replaceOne(event_type, 'c', 'k') AS ro,
                  replaceOne(event_type, 'zz', 'k') AS ro_miss,
                  replaceRegexpAll(event_type, '([aeiou])', '<\\1>') AS rr
           FROM events WHERE event_id < 50""",
        """SELECT replace(event_type, 'c', 'k') AS ra,
                  CASE WHEN locate('c', event_type) > 0
                       THEN concat(substr(event_type, 1,
                                          locate('c', event_type) - 1), 'k',
                                   substr(event_type,
                                          locate('c', event_type) + 1))
                       ELSE event_type END AS ro,
                  event_type AS ro_miss,
                  regexp_replace(event_type, '([aeiou])', '<$1>') AS rr
           FROM events WHERE event_id < 50""",
    )


# ---- dates -----------------------------------------------------------------


def test_week_starts_and_parts(spark):
    _same(
        spark,
        """SELECT toMonday(ts) AS mon,
                  toStartOfWeek(ts) AS sun,
                  toStartOfWeek(ts, 1) AS mon2,
                  toQuarter(ts) AS q,
                  toDayOfYear(ts) AS doy,
                  toISOWeek(ts) AS iw
           FROM events WHERE event_id < 50""",
        """SELECT CAST(date_trunc('WEEK', ts) AS DATE) AS mon,
                  date_sub(CAST(ts AS DATE), dayofweek(ts) - 1) AS sun,
                  CAST(date_trunc('WEEK', ts) AS DATE) AS mon2,
                  quarter(ts) AS q,
                  dayofyear(ts) AS doy,
                  weekofyear(ts) AS iw
           FROM events WHERE event_id < 50""",
    )


def test_format_datetime_and_age(spark):
    _same(
        spark,
        """SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S') AS f,
                  formatDateTime(ts, '%F') AS iso,
                  age('day', toDate('2024-01-01'), ts) AS days
           FROM events WHERE event_id < 20""",
        """SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS f,
                  date_format(ts, 'yyyy-MM-dd') AS iso,
                  timestampdiff(DAY, to_date('2024-01-01'), ts) AS days
           FROM events WHERE event_id < 20""",
    )


def test_format_datetime_rejects_unknown_specifier(spark):
    with pytest.raises(ChDialectError):
        translate("SELECT formatDateTime(ts, '%Q') FROM events")
    with pytest.raises(ChDialectError):
        translate("SELECT formatDateTime(ts, 'T') FROM events")


def test_from_unix_timestamp(spark):
    _same(
        spark,
        """SELECT fromUnixTimestamp(toUnixTimestamp(ts)) AS rt
           FROM events WHERE event_id < 20""",
        """SELECT timestamp_seconds(unix_timestamp(ts)) AS rt
           FROM events WHERE event_id < 20""",
    )


# ---- ints / bits -----------------------------------------------------------


def test_int_div_or_zero_bits(spark):
    _same(
        spark,
        """SELECT intDivOrZero(event_id, 7) AS d,
                  intDivOrZero(event_id, 0) AS dz,
                  moduloOrZero(event_id, 7) AS m,
                  moduloOrZero(event_id, 0) AS mz,
                  bitAnd(event_id, 12) AS ba,
                  bitOr(event_id, 5) AS bo,
                  bitXor(event_id, 255) AS bx,
                  bitNot(event_id) AS bn,
                  bitShiftLeft(event_id, 2) AS sl,
                  bitShiftRight(event_id, 2) AS sr,
                  roundBankers(value, 1) AS rb
           FROM events WHERE event_id < 50""",
        """SELECT (CAST(event_id AS BIGINT) DIV CAST(7 AS BIGINT)) AS d,
                  0 AS dz,
                  (event_id % 7) AS m,
                  0 AS mz,
                  (event_id & 12) AS ba,
                  (event_id | 5) AS bo,
                  (event_id ^ 255) AS bx,
                  (~event_id) AS bn,
                  shiftleft(event_id, 2) AS sl,
                  shiftright(event_id, 2) AS sr,
                  bround(value, 1) AS rb
           FROM events WHERE event_id < 50""",
    )


# ---- IPv4 / digests / base64 -----------------------------------------------


def test_ipv4_roundtrip(spark):
    _same(
        spark,
        """SELECT IPv4NumToString(3232235777) AS ip,
                  IPv4StringToNum('192.168.1.1') AS num,
                  IPv4NumToString(IPv4StringToNum('10.0.0.255')) AS rt
           FROM events WHERE event_id = 1""",
        """SELECT '192.168.1.1' AS ip,
                  CAST(3232235777 AS BIGINT) AS num,
                  '10.0.0.255' AS rt
           FROM events WHERE event_id = 1""",
    )


def test_md5_sha_base64(spark):
    _same(
        spark,
        """SELECT hex(MD5(event_type)) AS h,
                  hex(SHA256(event_type)) AS s,
                  base64Encode(event_type) AS b,
                  base64Decode(base64Encode(event_type)) AS rt
           FROM events WHERE event_id < 20""",
        """SELECT upper(md5(event_type)) AS h,
                  upper(sha2(event_type, 256)) AS s,
                  base64(event_type) AS b,
                  event_type AS rt
           FROM events WHERE event_id < 20""",
    )


def test_private_hashes_raise(spark):
    for fn in ("cityHash64", "sipHash64", "farmHash64", "halfMD5"):
        with pytest.raises(ChDialectError):
            translate(f"SELECT {fn}(event_type) FROM events")


def test_trim_map_concat_ws(spark):
    _same(
        spark,
        """SELECT trimBoth('  x  ') AS tb, trimLeft('  x  ') AS tl,
                  trimRight('  x  ') AS tr,
                  concatWithSeparator('-', event_type, 'z') AS cw,
                  mapKeys(map('a', 1, 'b', 2)) AS mk,
                  mapValues(map('a', 1, 'b', 2)) AS mv,
                  lowerUTF8('AbC') AS lo, upperUTF8('AbC') AS up,
                  reverseUTF8(event_type) AS rev
           FROM events WHERE event_id < 20""",
        """SELECT trim('  x  ') AS tb, ltrim('  x  ') AS tl,
                  rtrim('  x  ') AS tr,
                  concat_ws('-', event_type, 'z') AS cw,
                  map_keys(map('a', 1, 'b', 2)) AS mk,
                  map_values(map('a', 1, 'b', 2)) AS mv,
                  lower('AbC') AS lo, upper('AbC') AS up,
                  reverse(event_type) AS rev
           FROM events WHERE event_id < 20""",
    )


def test_json_additions_and_array_intersect(spark):
    _same(
        spark,
        """SELECT JSONHas(props, 'k') AS has_k,
                  JSONHas(props, 'zz') AS has_zz,
                  JSONExtractRaw(props, 'k') AS raw_k,
                  JSONLength('[1,2,3]') AS alen,
                  arrayIntersect(sequence(1, 5), sequence(4, 8)) AS inter
           FROM events WHERE event_id < 20""",
        """SELECT get_json_object(props, '$.k') IS NOT NULL AS has_k,
                  get_json_object(props, '$.zz') IS NOT NULL AS has_zz,
                  get_json_object(props, '$.k') AS raw_k,
                  json_array_length('[1,2,3]') AS alen,
                  array_intersect(sequence(1, 5), sequence(4, 8)) AS inter
           FROM events WHERE event_id < 20""",
    )


def test_array_enumerate(spark):
    _same(
        spark,
        """SELECT arrayEnumerate(sequence(10, 13)) AS idx,
                  arrayEnumerateUniq(array('a', 'b', 'a', 'a', 'b')) AS occ
           FROM events WHERE event_id = 1""",
        """SELECT array(1, 2, 3, 4) AS idx,
                  array(1, 1, 2, 3, 2) AS occ
           FROM events WHERE event_id = 1""",
    )


def test_running_functions_raise_with_guidance(spark):
    for fn in ("runningDifference", "neighbor", "runningAccumulate"):
        with pytest.raises(ChDialectError) as e:
            translate(f"SELECT {fn}(value) FROM events")
        assert "native operator" in str(e.value)


def test_cluster_functions_raise_with_guidance(spark):
    for fn in ("remote", "remoteSecure", "cluster", "clusterAllReplicas"):
        with pytest.raises(ChDialectError) as e:
            translate(f"SELECT * FROM {fn}('host', db, events)")
        assert "cluster" in str(e.value).lower()


def test_uniq_sketch_variants(spark):
    _same(
        spark,
        "SELECT uniqCombined64(user_id) AS u1, uniqTheta(user_id) AS u2 "
        "FROM events",
        "SELECT approx_count_distinct(user_id) AS u1, "
        "approx_count_distinct(user_id) AS u2 FROM events",
    )


def test_array_fold_and_reduce(spark):
    _same(
        spark,
        """SELECT arrayFold((acc, x) -> acc + x * x, sequence(1, 4),
                            CAST(0 AS BIGINT)) AS ssq,
                  arrayReduce('sum', sequence(1, 4)) AS s,
                  arrayReduce('max', sequence(1, 4)) AS mx,
                  arrayReduce('avg', sequence(1, 4)) AS av,
                  arrayReduce('count', sequence(1, 4)) AS c
           FROM events WHERE event_id = 1""",
        """SELECT CAST(30 AS BIGINT) AS ssq,
                  CAST(10 AS DOUBLE) AS s,
                  4 AS mx,
                  CAST(2.5 AS DOUBLE) AS av,
                  4 AS c
           FROM events WHERE event_id = 1""",
    )


def test_array_reduce_unknown_agg_raises(spark):
    with pytest.raises(ChDialectError):
        translate("SELECT arrayReduce('median', sequence(1, 4)) FROM events")


def test_format_clause_stripped_and_global_dropped(spark):
    _same(
        spark,
        """SELECT event_type, count(*) AS n FROM events
           WHERE user_id GLOBAL IN (SELECT user_id FROM events
                                    WHERE value > 400)
           GROUP BY event_type ORDER BY event_type FORMAT JSONEachRow""",
        """SELECT event_type, count(*) AS n FROM events
           WHERE user_id IN (SELECT user_id FROM events WHERE value > 400)
           GROUP BY event_type ORDER BY event_type""",
    )


def test_into_outfile_and_strict_joins_raise(spark):
    with pytest.raises(ChDialectError):
        translate("SELECT 1 FROM events INTO OUTFILE 'x.csv'")
    with pytest.raises(ChDialectError) as e1:
        translate("SELECT * FROM events e ASOF JOIN events d ON e.user_id = d.user_id AND e.ts >= d.ts")
    assert "j10" in str(e1.value)
    with pytest.raises(ChDialectError) as e2:
        translate("SELECT * FROM events e ANY LEFT JOIN events d ON e.user_id = d.user_id")
    assert "dedup" in str(e2.value)


def test_array_difference_and_cumsum(spark):
    _same(
        spark,
        """SELECT arrayDifference(array(3, 7, 12, 10)) AS d,
                  arrayCumSum(array(1, 2, 3)) AS cs
           FROM events WHERE event_id = 1""",
        """SELECT array(0, 4, 5, -2) AS d,
                  array(CAST(1 AS DOUBLE), CAST(3 AS DOUBLE),
                        CAST(6 AS DOUBLE)) AS cs
           FROM events WHERE event_id = 1""",
    )


def test_position_ci_count_matches_count_equal(spark):
    _same(
        spark,
        """SELECT positionCaseInsensitive(event_type, 'LICK') AS p,
                  countMatches(props, '[0-9]') AS cm,
                  countEqual(array(1, 2, 1, 3, 1), 1) AS ce
           FROM events WHERE event_id < 20""",
        """SELECT locate(lower('LICK'), lower(event_type)) AS p,
                  regexp_count(props, '[0-9]') AS cm,
                  3 AS ce
           FROM events WHERE event_id < 20""",
    )


def test_quantiles_exact_multi(spark):
    _same(
        spark,
        "SELECT quantilesExact(0.25, 0.5, 0.75)(value) AS q FROM events",
        "SELECT percentile(value, array(0.25, 0.5, 0.75)) AS q FROM events",
    )


def test_tokens_ngrams_lag_in_frame(spark):
    _same(
        spark,
        """SELECT tokens('a b  c') AS t,
                  ngrams('abcd', 2) AS g,
                  ngrams('ab', 3) AS g_short
           FROM events WHERE event_id = 1""",
        """SELECT array('a', 'b', 'c') AS t,
                  array('ab', 'bc', 'cd') AS g,
                  CAST(array() AS ARRAY<STRING>) AS g_short
           FROM events WHERE event_id = 1""",
    )
    _same(
        spark,
        """SELECT event_id, lagInFrame(value) OVER
             (PARTITION BY event_type ORDER BY ts, event_id) AS prev
           FROM events WHERE event_id < 100""",
        """SELECT event_id, lag(value) OVER
             (PARTITION BY event_type ORDER BY ts, event_id) AS prev
           FROM events WHERE event_id < 100""",
    )


def test_numbers_table_function(spark):
    _same(
        spark,
        "SELECT number, number * 2 AS d FROM numbers(5) ORDER BY number",
        "SELECT number, number * 2 AS d FROM "
        "(SELECT explode(sequence(0, 4)) AS number) ORDER BY number",
    )


def test_to_start_of_interval(spark):
    _same(
        spark,
        """SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) AS q15,
                  toStartOfInterval(ts, INTERVAL 6 HOUR) AS h6,
                  toStartOfInterval(ts, INTERVAL 1 DAY) AS d1
           FROM events WHERE event_id < 50""",
        """SELECT timestampadd(SECOND,
                    (timestampdiff(SECOND, date_trunc('DAY', ts), ts)
                     DIV 900) * 900, date_trunc('DAY', ts)) AS q15,
                  timestampadd(SECOND,
                    (timestampdiff(SECOND, date_trunc('DAY', ts), ts)
                     DIV 21600) * 21600, date_trunc('DAY', ts)) AS h6,
                  date_trunc('DAY', ts) AS d1
           FROM events WHERE event_id < 50""",
    )
    with pytest.raises(ChDialectError):
        translate("SELECT toStartOfInterval(ts, INTERVAL 2 DAY) FROM events")


def test_quantile_variants_and_topk_guidance(spark):
    # approximate variants run (values are estimates; only shape checked)
    df = spark.sql(
        translate("SELECT quantileTiming(0.5)(value) AS m FROM events")
    )
    assert df.columns == ["m"] and df.count() == 1
    for fn in ("quantileExactLow", "quantileExactHigh"):
        with pytest.raises(ChDialectError) as e:
            translate(f"SELECT {fn}(0.5)(value) FROM events")
        assert "ch_quantiles_disc" in str(e.value)
    with pytest.raises(ChDialectError) as e2:
        translate("SELECT topK(3)(event_type) FROM events")
    assert "a15_topk_frequent" in str(e2.value)


def test_scalar_with_constants(spark):
    _same(
        spark,
        """WITH 100 AS threshold, 2.5 AS mult
           SELECT event_id, value * mult AS scaled
           FROM events WHERE value > threshold AND event_id < 200""",
        """SELECT event_id, value * 2.5 AS scaled
           FROM events WHERE value > 100 AND event_id < 200""",
    )
    # real CTEs must pass through untouched
    _same(
        spark,
        """WITH big AS (SELECT * FROM events WHERE value > 400)
           SELECT count(*) AS n FROM big""",
        """WITH big AS (SELECT * FROM events WHERE value > 400)
           SELECT count(*) AS n FROM big""",
    )


def test_group_concat_forms(spark):
    _same(
        spark,
        """SELECT event_type,
                  groupConcat('|')(CAST(event_id AS STRING)) AS j
           FROM (SELECT * FROM events WHERE event_id <= 5
                 ORDER BY event_id)
           GROUP BY event_type""",
        """SELECT event_type,
                  array_join(collect_list(CAST(event_id AS STRING)), '|') AS j
           FROM (SELECT * FROM events WHERE event_id <= 5
                 ORDER BY event_id)
           GROUP BY event_type""",
    )
    _same(
        spark,
        "SELECT groupConcat(event_type) AS j FROM events WHERE event_id = 1",
        "SELECT array_join(collect_list(event_type), ',') AS j "
        "FROM events WHERE event_id = 1",
    )


def test_variance_family_and_median(spark):
    _same(
        spark,
        """SELECT stddevPop(value) AS sp, stddevSamp(value) AS ss,
                  varPop(value) AS vp, varSamp(value) AS vs,
                  covarPop(value, event_id) AS cp,
                  covarSamp(value, event_id) AS cs,
                  medianExact(value) AS me
           FROM events""",
        """SELECT stddev_pop(value) AS sp, stddev_samp(value) AS ss,
                  var_pop(value) AS vp, var_samp(value) AS vs,
                  covar_pop(value, event_id) AS cp,
                  covar_samp(value, event_id) AS cs,
                  median(value) AS me
           FROM events""",
    )
    # approximate median executes (value is an estimate)
    df = spark.sql(translate("SELECT median(value) AS m FROM events"))
    assert df.columns == ["m"] and df.count() == 1


def test_array_join_clause(spark):
    _same(
        spark,
        """SELECT event_id, x
           FROM (SELECT event_id, sequence(1, 3) AS arr FROM events
                 WHERE event_id <= 3)
           ARRAY JOIN arr AS x
           ORDER BY event_id, x""",
        """SELECT event_id, x
           FROM (SELECT event_id, sequence(1, 3) AS arr FROM events
                 WHERE event_id <= 3)
           LATERAL VIEW explode(arr) __aj AS x
           ORDER BY event_id, x""",
    )
    with pytest.raises(ChDialectError) as e:
        translate("SELECT event_id FROM t ARRAY JOIN arr")
    assert "AS" in str(e.value)


def test_url_dissection(spark):
    _same(
        spark,
        """SELECT domain(u) AS d, domainWithoutWWW(u) AS dw,
                  topLevelDomain(u) AS tld, path(u) AS p,
                  queryString(u) AS q, protocol(u) AS pr,
                  extractURLParameter(u, 'k') AS pk
           FROM (SELECT 'https://www.shop.example.com/a/b?k=7&z=1' AS u)""",
        """SELECT 'www.shop.example.com' AS d, 'shop.example.com' AS dw,
                  'com' AS tld, '/a/b' AS p,
                  'k=7&z=1' AS q, 'https' AS pr, '7' AS pk""",
    )


def test_format_and_split_by_string(spark):
    _same(
        spark,
        """SELECT format('{}-{} (100%)', event_type, user_id) AS f,
                  splitByString('|-|', 'a|-|b|-|c') AS s
           FROM events WHERE event_id = 1""",
        """SELECT concat(event_type, '-', CAST(user_id AS STRING),
                         ' (100%)') AS f,
                  array('a', 'b', 'c') AS s
           FROM events WHERE event_id = 1""",
    )
    with pytest.raises(ChDialectError):
        translate("SELECT format('{0} {1}', a, b) FROM events")


def test_rand_raises_with_deterministic_guidance(spark):
    for fn in ("rand", "rand64", "randCanonical", "randUniform"):
        with pytest.raises(ChDialectError) as e:
            translate(f"SELECT {fn}() FROM events")
        assert "ch_sample_key" in str(e.value)


def test_value_mapping_transform(spark):
    _same(
        spark,
        """SELECT transform(event_type, ['click', 'view'], ['C', 'V'],
                            '?') AS code,
                  transform(user_id % 2, [0, 1], [100, 200]) AS parity,
                  arrayMap(x -> x * 2, sequence(1, 3)) AS still_lambda
           FROM events WHERE event_id < 50""",
        """SELECT CASE event_type WHEN 'click' THEN 'C'
                                  WHEN 'view' THEN 'V' ELSE '?' END AS code,
                  CASE user_id % 2 WHEN 0 THEN 100 WHEN 1 THEN 200
                       ELSE user_id % 2 END AS parity,
                  transform(sequence(1, 3), x -> x * 2) AS still_lambda
           FROM events WHERE event_id < 50""",
    )


def test_dict_get_raises_with_join_guidance(spark):
    for fn in ("dictGet", "dictGetOrDefault", "dictHas"):
        with pytest.raises(ChDialectError) as e:
            translate(f"SELECT {fn}('d', 'attr', n_nationkey) FROM nation")
        assert "ch_dict_get" in str(e.value)


def test_tokens_splits_on_any_nonalnum(spark):
    """ClickHouse tokens() splits on ANY non-alphanumeric byte and
    never yields empty tokens — punctuation, tabs, newlines, and
    leading/trailing separators must not leak empties or joined
    tokens (round-4 ADVICE fix)."""
    _same(
        spark,
        "SELECT tokens(' a,b\tc\nd!e  ') AS t FROM events WHERE event_id = 1",
        "SELECT array('a','b','c','d','e') AS t "
        "FROM events WHERE event_id = 1",
    )


def test_round4_text_search_family(spark):
    _same(
        spark,
        """SELECT hasToken(' a,table b', 'table') AS t1,
                  hasToken('tables only', 'table') AS t2,
                  multiSearchAny('haystack', ['sta', 'zz']) AS m1,
                  multiSearchAnyCaseInsensitive('HayStack', ['stack']) AS m2,
                  splitByWhitespace(' a  b\tc ') AS sw
           FROM events WHERE event_id = 1""",
        """SELECT true AS t1, false AS t2, true AS m1, true AS m2,
                  array('a','b','c') AS sw
           FROM events WHERE event_id = 1""",
    )


def test_round4_misc_scalars(spark):
    _same(
        spark,
        """SELECT bitCount(7) AS bc,
                  toYYYYMMDD(toDateTime('2024-03-05 10:00:00')) AS ymd,
                  cutQueryString('https://x.y/p?a=1') AS cq,
                  toStartOfFifteenMinutes(
                      toDateTime('2024-03-05 10:44:00')) AS q15,
                  timeSlot(toDateTime('2024-03-05 10:44:00')) AS slot,
                  dateName('month', toDateTime('2024-03-05 10:00:00')) AS mn,
                  dateName('weekday', toDateTime('2024-03-05 10:00:00')) AS wd,
                  arrayCompact(array(1, 1, 2, 2, 1)) AS ac
           FROM events WHERE event_id = 1""",
        """SELECT 3 AS bc, 20240305 AS ymd, 'https://x.y/p' AS cq,
                  TIMESTAMP '2024-03-05 10:30:00' AS q15,
                  TIMESTAMP '2024-03-05 10:30:00' AS slot,
                  'March' AS mn, 'Tuesday' AS wd,
                  array(1, 2, 1) AS ac
           FROM events WHERE event_id = 1""",
    )


def test_round4_great_circle(spark):
    from mkpipe_extractor_clickhouse_spark.sources.ch_dialect import translate

    sql = translate(
        "SELECT greatCircleDistance(-0.1278, 51.5074, 2.3522, 48.8566) AS d"
    )
    [row] = spark.sql(sql).collect()
    assert abs(row.d - 343_500) < 2_000  # London–Paris ≈ 343.5 km


def test_round4b_gap_fills(spark):
    _same(
        spark,
        """SELECT splitByRegexp('[0-9]+', 'a1b22c') AS sp,
                  bitTest(5, 0) AS b0, bitTest(5, 1) AS b1,
                  mapFromArrays(array('k'), array(7))['k'] AS mv,
                  lastDayOfMonth(toDateTime('2024-02-10 00:00:00')) AS ld,
                  monthName(toDateTime('2024-02-10 00:00:00')) AS mn,
                  toDaysSinceYearZero(toDateTime('1970-01-01 00:00:00')) AS dz,
                  arrayReverseSort(array(2, 1, 3)) AS ars
           FROM events WHERE event_id = 1""",
        """SELECT array('a','b','c') AS sp, 1 AS b0, 0 AS b1, 7 AS mv,
                  DATE'2024-02-29' AS ld, 'February' AS mn,
                  719528 AS dz, array(3, 2, 1) AS ars
           FROM events WHERE event_id = 1""",
    )


def test_round4b_guided_errors(spark):
    import pytest as _pytest

    from mkpipe_extractor_clickhouse_spark.sources.ch_dialect import (
        ChDialectError,
        translate,
    )

    for bad in (
        "SELECT toFixedString('ab', 4)",
        "SELECT byteSize('ab')",
        "SELECT normalizeUTF8NFC('abc')",
        "SELECT randomString(3)",
    ):
        with _pytest.raises(ChDialectError):
            translate(bad)


# ---- IPv4 range functions (round 5) -----------------------------------------


def test_is_ip_address_in_range(spark):
    _same(
        spark,
        """SELECT event_id,
                  isIPAddressInRange(
                    IPv4NumToString((event_id * 131071) % 4294967296),
                    '10.0.0.0/8') AS in10,
                  isIPAddressInRange(
                    IPv4NumToString((event_id * 131071) % 4294967296),
                    '0.0.0.0/1') AS lower_half
           FROM events WHERE event_id <= 500""",
        """SELECT event_id,
                  ((event_id * 131071) % 4294967296) DIV 16777216 = 10
                    AS in10,
                  ((event_id * 131071) % 4294967296) DIV 2147483648 = 0
                    AS lower_half
           FROM events WHERE event_id <= 500""",
    )


def test_ipv4_cidr_to_range_and_to_ipv4(spark):
    _same(
        spark,
        """SELECT tupleElement(
                    IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 1) AS lo,
                  tupleElement(
                    IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 2) AS hi,
                  IPv4NumToString(tupleElement(
                    IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 1)) AS lo_str
           FROM events LIMIT 1""",
        """SELECT CAST(3232235520 AS BIGINT) AS lo,
                  CAST(3232301055 AS BIGINT) AS hi,
                  '192.168.0.0' AS lo_str
           FROM events LIMIT 1""",
    )


def test_ngram_distance_and_search(spark):
    # exact 4-gram multiset measures per the documented formulas:
    # 'hello world' (8 grams) vs 'hello word' (7 grams) share 6 grams
    # → sym = (8-6)+(7-6) = 3, dist = 3/15 = 0.2; search = 6/7.
    _same(
        spark,
        """SELECT ngramDistance('hello world', 'hello word') AS d,
                  ngramSearch('hello world', 'hello word') AS s,
                  ngramDistance('', '') AS d_empty,
                  ngramSearch('hello', '') AS s_empty,
                  ngramDistanceCaseInsensitive('Hello World', 'hello world')
                    AS d_ci
           FROM events LIMIT 1""",
        """SELECT CAST(0.2 AS DOUBLE) AS d,
                  CAST(6 AS DOUBLE) / CAST(7 AS DOUBLE) AS s,
                  CAST(0 AS DOUBLE) AS d_empty,
                  CAST(1 AS DOUBLE) AS s_empty,
                  CAST(0 AS DOUBLE) AS d_ci
           FROM events LIMIT 1""",
    )


# ---- readable formatting / rotation / geo / ms-epoch (round 5) -------------


def test_format_readable_size_and_quantity(spark):
    _same(
        spark,
        """SELECT formatReadableSize(0) AS a,
                  formatReadableSize(1023) AS b,
                  formatReadableSize(1024) AS c,
                  formatReadableSize(1536) AS d,
                  formatReadableSize(1048576) AS e,
                  formatReadableQuantity(5) AS f,
                  formatReadableQuantity(1500) AS g,
                  formatReadableQuantity(2250000) AS h
           FROM events LIMIT 1""",
        """SELECT '0.00 B' AS a, '1023.00 B' AS b, '1.00 KiB' AS c,
                  '1.50 KiB' AS d, '1.00 MiB' AS e,
                  '5.00' AS f, '1.50 thousand' AS g, '2.25 million' AS h
           FROM events LIMIT 1""",
    )


def test_array_rotate_left(spark):
    _same(
        spark,
        """SELECT arrayRotateLeft(array(1, 2, 3, 4, 5), 2) AS a,
                  arrayRotateLeft(array(1, 2, 3, 4, 5), 7) AS b,
                  arrayRotateLeft(array(1, 2, 3, 4, 5), 0) AS c,
                  arrayRotateLeft(array(), 3) AS d
           FROM events LIMIT 1""",
        """SELECT array(3, 4, 5, 1, 2) AS a,
                  array(3, 4, 5, 1, 2) AS b,
                  array(1, 2, 3, 4, 5) AS c,
                  array() AS d
           FROM events LIMIT 1""",
    )


def test_geo_distance_portable_haversine(spark):
    # 1 degree of longitude on the equator on the 6371 km sphere =
    # R * pi/180 = 111194.93 m; plus identity and symmetry
    _same(
        spark,
        """SELECT CAST(ROUND(greatCircleDistance(0, 0, 1, 0)) AS BIGINT)
                    AS one_deg,
                  CAST(ROUND(geoDistance(2.35, 48.85, 2.35, 48.85))
                    AS BIGINT) AS self_dist,
                  CAST(ROUND(greatCircleDistance(-0.13, 51.51, 2.35, 48.85))
                    AS BIGINT)
                  = CAST(ROUND(greatCircleDistance(2.35, 48.85, -0.13, 51.51))
                    AS BIGINT) AS symmetric
           FROM events LIMIT 1""",
        """SELECT CAST(111195 AS BIGINT) AS one_deg,
                  CAST(0 AS BIGINT) AS self_dist,
                  TRUE AS symmetric
           FROM events LIMIT 1""",
    )


def test_unix_timestamp_64_milli(spark):
    _same(
        spark,
        "SELECT event_id, toUnixTimestamp64Milli(ts) AS ms "
        "FROM events WHERE event_id <= 100",
        "SELECT event_id, unix_millis(CAST(ts AS TIMESTAMP)) AS ms "
        "FROM events WHERE event_id <= 100",
    )


def test_point_in_polygon_literal(spark):
    # exact even-odd ray cast on a literal square; boundary follows the
    # half-open rule (bottom/left edges in, top/right out for an
    # axis-aligned box traversed CCW)
    _same(
        spark,
        """SELECT pointInPolygon((5, 5), [(0,0), (10,0), (10,10), (0,10)])
                    AS inside,
                  pointInPolygon((15, 5), [(0,0), (10,0), (10,10), (0,10)])
                    AS outside,
                  pointInPolygon((0, 0), [(0,0), (10,0), (10,10), (0,10)])
                    AS corner_in,
                  pointInPolygon((10, 10), [(0,0), (10,0), (10,10), (0,10)])
                    AS corner_out
           FROM events LIMIT 1""",
        """SELECT TRUE AS inside, FALSE AS outside,
                  TRUE AS corner_in, FALSE AS corner_out
           FROM events LIMIT 1""",
    )


def test_point_in_polygon_guided_errors():
    with pytest.raises(ChDialectError, match="INTEGER literals"):
        translate("SELECT pointInPolygon((1, 2), [(0.5, 0), (10, 0), (10, 10)])")
    with pytest.raises(ChDialectError, match="hole"):
        translate(
            "SELECT pointInPolygon((1, 2), [(0,0), (9,0), (9,9)], "
            "[(1,1), (2,1), (2,2)])"
        )
    with pytest.raises(ChDialectError, match="LITERAL vertex array"):
        translate("SELECT pointInPolygon((1, 2), poly_col) FROM t")
    with pytest.raises(ChDialectError, match=">= 3"):
        translate("SELECT pointInPolygon((1, 2), [(0,0), (1,1)])")


def test_uniq_up_to(spark):
    # 5 distinct event types: below the cap it is exact, above it
    # saturates at N+1
    _same(
        spark,
        """SELECT uniqUpTo(10)(event_type) AS exact_u,
                  uniqUpTo(3)(event_type) AS capped_u
           FROM events""",
        """SELECT COUNT(DISTINCT event_type) AS exact_u,
                  CAST(4 AS BIGINT) AS capped_u
           FROM events""",
    )


def test_retention_flags(spark):
    _same(
        spark,
        """SELECT user_id,
                  retention(event_type = 'view', event_type = 'click') AS r
           FROM events GROUP BY user_id ORDER BY user_id""",
        """SELECT user_id,
                  array(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                        LEAST(
                          MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                          MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        )) AS r
           FROM events GROUP BY user_id ORDER BY user_id""",
    )


def test_with_totals(spark):
    _same(
        spark,
        """SELECT coalesce(event_type, 'TOTAL') AS et, count(*) AS n
           FROM events
           GROUP BY event_type WITH TOTALS
           ORDER BY et""",
        """SELECT coalesce(event_type, 'TOTAL') AS et, count(*) AS n
           FROM events
           GROUP BY GROUPING SETS ((event_type), ())
           ORDER BY et""",
    )
    with pytest.raises(ChDialectError, match="WITH TOTALS"):
        translate("SELECT count(*) FROM events WITH TOTALS")


def test_foreach_combinator_guided():
    with pytest.raises(ChDialectError, match="ch_sum_foreach"):
        translate("SELECT label, sumForEach(embedding) FROM embeddings GROUP BY label")
    with pytest.raises(ChDialectError, match="ch_sum_foreach"):
        translate("SELECT avgForEach(arr) FROM t")


def test_date_add_sub_and_substring_index(spark):
    _same(
        spark,
        """SELECT dateAdd(day, 3, ts) AS a, dateSub('hour', 2, ts) AS b,
                  substringIndex('a.b.c', '.', 2) AS s,
                  toLastDayOfMonth(ts) AS ld
           FROM events WHERE event_id < 50""",
        """SELECT timestampadd(DAY, 3, ts) AS a,
                  timestampadd(HOUR, -(2), ts) AS b,
                  substring_index('a.b.c', '.', 2) AS s,
                  last_day(ts) AS ld
           FROM events WHERE event_id < 50""",
    )


def test_date_add_interval_form(spark):
    """ClickHouse's OTHER documented dateAdd form —
    dateAdd(date, INTERVAL n unit) — must translate, not IndexError;
    malformed 2-arg calls get a guided ChDialectError."""
    _same(
        spark,
        """SELECT dateAdd(ts, INTERVAL 3 DAY) AS a,
                  dateSub(ts, INTERVAL 2 hour) AS b
           FROM events WHERE event_id < 50""",
        """SELECT timestampadd(DAY, 3, ts) AS a,
                  timestampadd(HOUR, -(2), ts) AS b
           FROM events WHERE event_id < 50""",
    )
    with pytest.raises(ChDialectError, match="INTERVAL"):
        translate("SELECT dateAdd(ts, 3) FROM t")
    with pytest.raises(ChDialectError, match="3 arguments|takes"):
        translate("SELECT dateAdd(ts) FROM t")


def test_sequence_funnel_guided_errors():
    cases = [
        ("windowFunnel(3600)(ts, a, b)", "ch_window_funnel"),
        ("sequenceMatch('(?1)(?2)')(ts, a, b)", "ch_sequence_match"),
        ("sequenceCount('(?1)(?2)')(ts, a, b)", "ch_sequence_count"),
        ("groupArrayMovingSum(3)(value)", "ch_moving_sum_array"),
        ("maxIntersections(s, e)", "ch_running_concurrency"),
        ("sumMap(k, v)", "ch_summap"),
        ("minMap(k, v)", "ch_minmax_map"),
    ]
    for expr, native in cases:
        with pytest.raises(ChDialectError, match=native):
            translate(f"SELECT {expr} FROM t")


def test_with_ties_raises_with_rank_hint():
    with pytest.raises(ChDialectError, match="o7_topn_with_ties"):
        translate("SELECT x FROM t ORDER BY x LIMIT 3 WITH TIES")


def test_quantile_deterministic_and_topk_weighted():
    assert "percentile_approx(value, 0.5)" in translate(
        "SELECT quantileDeterministic(0.5)(value, user_id) FROM events"
    )
    with pytest.raises(ChDialectError, match="ch_topk_weighted"):
        translate("SELECT topKWeighted(5)(event_type, value) FROM events")
