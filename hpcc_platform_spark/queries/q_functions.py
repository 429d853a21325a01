"""Scalar-function surface coverage (SURVEY.md §2.9).

The reference's ~484 RTL functions (Std.Str/Date/Math + built-ins) map
nearly 1:1 onto pyspark.sql.functions; these queries pin a representative
slice per family against DuckDB. Engines must agree on semantics, not just
names — e.g. md5 over UTF-8 bytes, C-style printf formatting, Java vs RE2
regex (queries stick to the common dialect subset).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpcc_platform_spark.functions.phonetic import metaphone_key, soundex_key
from hpcc_platform_spark.queries.registry import query, tables
from hpcc_platform_spark.sources.inline import inline_dataset


@query(
    "str_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_uc,
           LOWER(p_brand) AS brand_lc,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTRING(p_type, 1, 8) AS type_prefix,
           REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
           REVERSE(p_brand) AS brand_rev,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           CONCAT(p_brand, '/', p_type) AS brand_type,
           CAST(STARTS_WITH(p_type, 'STANDARD') AS BOOLEAN) AS is_standard,
           CAST(levenshtein(p_brand, 'Brand#11') AS INT) AS lev_dist,
           TRIM(p_name) AS name_trim
    FROM part WHERE p_partkey <= 500
    """,
    category="functions",
)
def str_functions(spark, sf_dir):
    """Std.Str family (ecllibrary/std/Str.ecl: ToUpperCase :167, Reverse
    :195, FindReplace :205, EditDistance :313, etc.) → built-in F.*."""
    (part,) = tables(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.lower("p_brand").alias("brand_lc"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_type", 1, 8).alias("type_prefix"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("int").alias("lev_dist"),
        F.trim("p_name").alias("name_trim"),
    )


@query(
    "regex_functions",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(regexp_matches(p_type, 'BRASS|COPPER') AS BOOLEAN) AS is_metal
    FROM part WHERE p_partkey <= 500
    """,
    category="functions",
)
def regex_functions(spark, sf_dir):
    """REGEXFIND/REGEXREPLACE (ecl/hql/hqllex.l:917-919; impl
    rtl/eclrtl/eclregex.cpp) → regexp_extract / regexp_replace. Patterns
    stay in the Java∩RE2 common dialect."""
    (part,) = tables(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("BRASS|COPPER").alias("is_metal"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           CAST(strftime(o_orderdate + INTERVAL 30 DAY, '%Y%m%d') AS INT) AS due_date,
           CAST(strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS INT) AS order_month,
           CAST(strftime(last_day(CAST(o_orderdate AS DATE)), '%Y%m%d') AS INT) AS month_end
    FROM orders WHERE o_orderkey <= 2000
    """,
    category="functions",
)
def date_functions(spark, sf_dir):
    """Std.Date family (ecllibrary/std/Date.ecl: Year/Month/Day :66-86,
    AdjustDate, 129 exports) → year/month/day/date_add/date_trunc/last_day.
    Derived dates are emitted in the reference's own Date_t encoding
    (YYYYMMDD int, Date.ecl:23) via the functions.dates codec — which also
    sidesteps DATE-vs-TIMESTAMP representation skew between engines."""
    from hpcc_platform_spark.functions import date_to_int

    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mo"),
        F.dayofmonth(d).cast("int").alias("dy"),
        date_to_int(F.date_add(d.cast("date"), 30)).alias("due_date"),
        date_to_int(F.date_trunc("month", d).cast("date")).alias("order_month"),
        date_to_int(F.last_day(d.cast("date"))).alias("month_end"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25) AS abs_dev,
           ROUND(l_extendedprice, 0) AS price_rounded,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_bucket,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct,
           ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           ROUND(POWER(l_quantity, 2), 4) AS qty_sq,
           CAST(l_orderkey % 97 AS BIGINT) AS mod97,
           CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS key_xor,
           CAST(l_orderkey & 255 AS BIGINT) AS key_and
    FROM lineitem WHERE l_orderkey <= 1000
    """,
    category="functions",
)
def math_functions(spark, sf_dir):
    """Math built-ins (no_ln/no_sqrt/no_power hqlexpr.hpp:253-265, no_abs
    :306, bit ops no_band/bor/bxor :392-395) → F.* 1:1. Transcendentals
    rounded to 6 places (libm last-ulp variation across engines)."""
    (li,) = tables(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey") <= 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
        F.round("l_extendedprice", 0).alias("price_rounded"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", 2), 4).alias("qty_sq"),
        (F.col("l_orderkey") % 97).cast("long").alias("mod97"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).cast("long").alias("key_xor"),
        F.col("l_orderkey").bitwiseAND(F.lit(255)).cast("long").alias("key_and"),
    )


@query(
    "hash_functions",
    oracle="""
    SELECT c_custkey, md5(c_name) AS name_md5
    FROM customer WHERE c_custkey <= 300
    """,
    category="functions",
)
def hash_functions(spark, sf_dir):
    """HASHMD5 (no_hashmd5, hqlexpr.hpp:566) — md5 over UTF-8 bytes agrees
    across engines; HASH32/HASH64/CRC use engine-specific algorithms in the
    reference too (tested Spark-side only, tests/)."""
    (cust,) = tables(spark, sf_dir, "customer")
    return cust.where(F.col("c_custkey") <= 300).select(
        "c_custkey", F.md5(F.col("c_name").cast("binary")).alias("name_md5")
    )


@query(
    "format_functions",
    oracle="""
    SELECT o_orderkey,
           printf('%010d', o_orderkey) AS key_padded,
           printf('%.2f', o_totalprice) AS price_str
    FROM orders WHERE o_orderkey <= 1000
    """,
    category="functions",
)
def format_functions(spark, sf_dir):
    """INTFORMAT/REALFORMAT (no_intformat/no_realformat hqlexpr.hpp:304-305;
    rtlIntFormat eclrtl.hpp:132) → C-style format_string."""
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.where(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.format_string("%010d", "o_orderkey").alias("key_padded"),
        F.format_string("%.2f", "o_totalprice").alias("price_str"),
    )


@query(
    "case_map",
    oracle="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'BUILDING' THEN 'construction'
             WHEN 'AUTOMOBILE' THEN 'vehicles'
             WHEN 'MACHINERY' THEN 'industrial'
             ELSE 'other' END AS segment_group,
           CASE WHEN c_acctbal < 0 THEN 'delinquent'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier
    FROM customer
    """,
    category="functions",
)
def case_map(spark, sf_dir):
    """CASE/MAP/IF expression forms (TAKcase :930, TAKif :914 at the scalar
    level) → when/otherwise chains."""
    (cust,) = tables(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    bal = F.col("c_acctbal")
    return cust.select(
        "c_custkey",
        F.when(seg == "BUILDING", "construction")
        .when(seg == "AUTOMOBILE", "vehicles")
        .when(seg == "MACHINERY", "industrial")
        .otherwise("other")
        .alias("segment_group"),
        F.when(bal < 0, "delinquent")
        .when(bal < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
    )


@query(
    "fromjson",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_value
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
    category="functions",
)
def fromjson(spark, sf_dir):
    """FROMJSON (no_json, hqlexpr.hpp:519; fromjson*.ecl tests) — parse a
    JSON string column; get_json_object keeps it JVM-side."""
    (events,) = tables(spark, sf_dir, "events")
    return events.where(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


@query(
    "base64_functions",
    oracle="""
    SELECT c_custkey,
           base64(encode(c_name)) AS name_b64,
           decode(from_base64(base64(encode(c_name)))) AS name_roundtrip
    FROM customer WHERE c_custkey <= 200
    """,
    category="functions",
)
def base64_functions(spark, sf_dir):
    """Std.Str Base64 encode/decode (Str.ecl:440-453) — RFC 4648 agrees
    across engines; roundtrip proves both directions."""
    (cust,) = tables(spark, sf_dir, "customer")
    b64 = F.base64(F.col("c_name").cast("binary"))
    return cust.where(F.col("c_custkey") <= 200).select(
        "c_custkey",
        b64.alias("name_b64"),
        F.unbase64(b64).cast("string").alias("name_roundtrip"),
    )


# Classic soundex/metaphone test vectors (Robert/Rupert, Ashcraft H-skip,
# Tymczak, Pfister, silent-K Knight, WR- Wright, TH- Thompson, ...).
# Expected keys precomputed once (soundex cross-checked against a textbook
# American-Soundex implementation incl. the H/W separator rule) and pinned
# as an inline VALUES oracle — DuckDB has no phonetic functions, so this is
# how the deterministic keys get a real value-hash check.
_PHONETIC_NAMES = [
    (1, "Robert", "R163", "RBRT"),
    (2, "Rupert", "R163", "RPRT"),
    (3, "Rubin", "R150", "RBN"),
    (4, "Ashcraft", "A261", "AKSKRFT"),
    (5, "Ashcroft", "A261", "AKSKRFT"),
    (6, "Tymczak", "T522", "TMKSK"),
    (7, "Pfister", "P236", "PFSTR"),
    (8, "Honeyman", "H555", "HNMN"),
    (9, "Washington", "W252", "AKSNGTN"),
    (10, "Lee", "L000", "L"),
    (11, "Gutierrez", "G362", "GTRS"),
    (12, "Jackson", "J250", "JKSN"),
    (13, "VanDeusen", "V532", "VNDSN"),
    (14, "Deusen", "D250", "DSN"),
    (15, "O'Malley", "O540", "OML"),
    (16, "Smith", "S530", "SM0"),
    (17, "Smythe", "S530", "SM0"),
    (18, "Schmidt", "S530", "SKMDT"),
    (19, "Johnson", "J525", "JHNSN"),
    (20, "Jonson", "J525", "JNSN"),
    (21, "Williams", "W452", "ILMS"),
    (22, "Knight", "K523", "KNHT"),
    (23, "Night", "N230", "NHT"),
    (24, "Wright", "W623", "RHT"),
    (25, "Rite", "R300", "RT"),
    (26, "Thompson", "T512", "0MPSN"),
    (27, "Thomson", "T525", "0MSN"),
    (28, "Catherine", "C365", "K0RN"),
    (29, "Katherine", "K365", "K0RN"),
    (30, "Euler", "E460", "ELR"),
    (31, "Gauss", "G200", "GS"),
    (32, "Hilbert", "H416", "HLBRT"),
    (33, "Knuth", "K530", "KN0"),
    (34, "Lloyd", "L300", "LD"),
    (35, "Lukasiewicz", "L222", "LKSKS"),
    (36, "Wachs", "W200", "AKHS"),
    (37, "Vaux", "V200", "VKS"),
    (38, "Tsar", "T260", "TSR"),
    (39, "Czar", "C600", "KSR"),
    (40, "Phoenix", "P520", "FNKS"),
]

_PHONETIC_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({i}, '{n.replace(chr(39), chr(39) * 2)}', '{s}', '{m}')"
    for i, n, s, m in _PHONETIC_NAMES
) + ") AS t(id, name, sdx, mph)"


@query("phonetic_soundex", oracle=_PHONETIC_ORACLE, category="functions")
def phonetic_soundex(spark, sf_dir):
    """Phonetic keys (Std.Metaphone / plugins/dmetaphone in the reference,
    plugins/dmetaphone/dmetaphone.cpp): Spark's built-in soundex (JVM,
    codegen'd) plus the simplified-metaphone variant from
    functions/phonetic.py, value-checked against precomputed keys for the
    classic test-vector names via an inline VALUES oracle (the same
    technique the scheduler query uses for its non-SQL surface)."""
    df = inline_dataset(
        spark, [(i, n) for i, n, _, _ in _PHONETIC_NAMES], "id int, name string"
    )
    return df.select(
        "id",
        "name",
        soundex_key("name").alias("sdx"),
        metaphone_key("name").alias("mph"),
    )


@query(
    "unicode_functions",
    oracle="""
    SELECT c_custkey,
           nfc_normalize(c_name || ' Élève Müller') AS name_nfc,
           strip_accents(c_name || ' Élève Müller') AS name_plain,
           lower(c_name || ' Élève Müller') AS name_lower
    FROM customer WHERE c_custkey <= 200
    """,
    category="functions",
)
def unicode_functions(spark, sf_dir):
    """Std.Uni surface (ecllibrary/std/Uni.ecl, plugins/unicodelib ICU):
    NFC normalization + accent stripping via Arrow-batched pandas UDFs over
    stdlib unicodedata (the ICU-plugin analogue); lower stays JVM-side."""
    from hpcc_platform_spark.functions.unicode import nfc_normalize, strip_accents

    (cust,) = tables(spark, sf_dir, "customer")
    name_acc = F.concat(F.col("c_name"), F.lit(" Élève Müller"))
    return cust.where(F.col("c_custkey") <= 200).select(
        "c_custkey",
        nfc_normalize(name_acc).alias("name_nfc"),
        strip_accents(name_acc).alias("name_plain"),
        F.lower(name_acc).alias("name_lower"),
    )


@query(
    "str_functions2",
    oracle="""
    SELECT p_partkey,
           translate(p_brand, '#', '-') AS brand_dash,
           regexp_replace(p_name, ' +', ' ', 'g') AS name_clean,
           CAST(p_name LIKE '%spring%' AS BOOLEAN) AS wild_spring,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
           CAST(instr(p_name, 'red') AS INT) AS find_red,
           array_to_string(list_filter(string_split(p_name, ' '), w -> w <> ''), '_') AS combined
    FROM part WHERE p_partkey <= 400
    """,
    category="functions",
)
def str_functions2(spark, sf_dir):
    """Std.Str second wave (Str.ecl: Translate :149, CleanSpaces :225,
    WildMatch :75, FilterOut :98, Find :54, CombineWords :299) — all
    JVM-side built-ins; WildMatch's */? map to SQL LIKE %/_."""
    (part,) = tables(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") <= 400).select(
        "p_partkey",
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.regexp_replace("p_name", " +", " ").alias("name_clean"),
        F.col("p_name").like("%spring%").alias("wild_spring"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.instr(F.col("p_name"), "red").cast("int").alias("find_red"),
        F.concat_ws(
            "_", F.filter(F.split("p_name", " "), lambda w: w != "")
        ).alias("combined"),
    )


@query(
    "fromxml_scalar",
    oracle="""
    WITH x AS (
      SELECT s_suppkey,
             '<supplier><key>' || s_suppkey || '</key><name>' || s_name ||
             '</name><bal>' || CAST(s_acctbal AS VARCHAR) || '</bal></supplier>' AS doc
      FROM supplier
    )
    SELECT s_suppkey,
           CAST(regexp_extract(doc, '<key>([^<]*)</key>', 1) AS BIGINT) AS xml_key,
           regexp_extract(doc, '<name>([^<]*)</name>', 1) AS xml_name,
           CAST(regexp_extract(doc, '<bal>([^<]*)</bal>', 1) AS DOUBLE) AS xml_bal
    FROM x
    """,
    category="functions",
)
def fromxml_scalar(spark, sf_dir):
    """FROMXML scalar parsing (no_xml hqlexpr.hpp:518, tests
    testing/regress/ecl/fromxml*.ecl): roundtrip a constructed XML doc
    through Spark 4's native from_xml — schema-directed field extraction,
    the XPath-row-tag pattern at expression level. (DuckDB has no XML
    parser, so the oracle re-extracts with anchored regexes — exact for
    this controlled doc shape.)"""
    (supp,) = tables(spark, sf_dir, "supplier")
    doc = F.concat(
        F.lit("<supplier><key>"), F.col("s_suppkey"), F.lit("</key><name>"),
        F.col("s_name"), F.lit("</name><bal>"),
        F.col("s_acctbal").cast("string"), F.lit("</bal></supplier>"),
    )
    parsed = F.from_xml(doc, "key BIGINT, name STRING, bal DOUBLE")
    return supp.select(
        "s_suppkey",
        parsed.getField("key").alias("xml_key"),
        parsed.getField("name").alias("xml_name"),
        parsed.getField("bal").alias("xml_bal"),
    )


@query(
    "ecl_type_semantics",
    oracle="""
    SELECT p_partkey,
           rpad(p_brand, 10, ' ') AS brand_fixed,
           CAST(rtrim(rpad(p_brand, 10, ' ')) = p_brand AS BOOLEAN) AS fixed_eq,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) + CAST('0.005' AS DECIMAL(12,3)) AS DOUBLE) AS price_dec
    FROM part WHERE p_partkey <= 300
    """,
    category="functions",
)
def ecl_type_semantics(spark, sf_dir):
    """ECL physical-type semantics (SURVEY §1.2, schema.py type layer):
    fixed-width STRINGn is blank-padded (rpad) with trailing-space-
    insensitive equality (rtrim on compare — the reference's fixed-string
    collation), and DECIMALn_m arithmetic is exact (BCD in the reference,
    rtl/nbcd/nbcd.hpp; DecimalType here — no float drift on the +0.005)."""
    (part,) = tables(spark, sf_dir, "part")
    from hpcc_platform_spark.schema import fixed_eq

    brand_fixed = F.rpad(F.col("p_brand"), 10, " ")
    return part.where(F.col("p_partkey") <= 300).select(
        "p_partkey",
        brand_fixed.alias("brand_fixed"),
        fixed_eq(brand_fixed, F.col("p_brand")).alias("fixed_eq"),
        (
            F.col("p_retailprice").cast("decimal(12,2)")
            + F.lit("0.005").cast("decimal(12,3)")
        ).cast("double").alias("price_dec"),
    )


@query(
    "date_functions2",
    oracle="""
    SELECT o_orderkey,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
           CAST((1998 - year(o_orderdate)) * 12 + (12 - month(o_orderdate)) AS INT) AS months_to_dec98,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders WHERE o_orderkey <= 2000
    """,
    category="functions",
)
def date_functions2(spark, sf_dir):
    """Std.Date wave 2 (Date.ecl: DayOfWeek :356 — Sunday=1, ISO week,
    interval arithmetic): day-of-week in the reference's 1-based Sunday
    convention, ISO week number, day/month interval arithmetic done as
    integer math (identical across engines), quarter."""
    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.dayofweek(d).cast("int").alias("dow"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).cast("int").alias("days_to_eoy"),
        ((F.lit(1998) - F.year(d)) * 12 + (F.lit(12) - F.month(d))).cast("int").alias("months_to_dec98"),
        F.quarter(d).cast("int").alias("qtr"),
    )


@query(
    "xml_encode_decode",
    oracle="""
    SELECT n_nationkey,
           raw,
           REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(raw,
             '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;') AS encoded,
           REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
             REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(raw,
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;'), '''', '&apos;'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS roundtrip
    FROM (SELECT n_nationkey, CONCAT('<', n_name, ' & "co" >') AS raw FROM nation)
    """,
    category="functions",
)
def xml_encode_decode(spark, sf_dir):
    """XMLENCODE/XMLDECODE (no_xmlencode/no_xmldecode hqlexpr.hpp:542-543;
    RTL impl rtl/eclrtl/eclrtl.cpp xml entity escaping): escape the five XML
    entities and invert. Pure replace chains — JVM-side, codegen-friendly;
    the decode chain applies &amp; last so nested escapes survive, matching
    the reference's single-pass entity scanner on round-trip inputs."""
    (nation,) = tables(spark, sf_dir, "nation")
    raw = F.concat(F.lit("<"), F.col("n_name"), F.lit(' & "co" >'))

    def enc(c):
        for a, b in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"), ("'", "&apos;")]:
            c = F.replace(c, F.lit(a), F.lit(b))
        return c

    def dec(c):
        for a, b in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"), ("&amp;", "&")]:
            c = F.replace(c, F.lit(a), F.lit(b))
        return c

    return nation.select(
        "n_nationkey",
        raw.alias("raw"),
        enc(raw).alias("encoded"),
        dec(enc(raw)).alias("roundtrip"),
    )


_COLLATION_NAMES = [
    "Müller", "Mueller", "Muller", "Äpfel", "Apfel", "Zebra",
    "côte", "cote", "coté", "côté", "élan", "Elan", "ñandú", "nandu",
    "Øre", "Ore", "straße", "strasse", "Ångström", "Angstrom",
]


def _collation_values_sql() -> str:
    return ", ".join(
        f"({i}, '{n}')" for i, n in enumerate(_COLLATION_NAMES)
    )


@query(
    "collated_sort_locale",
    oracle=f"""
    SELECT id, name,
           CAST(row_number() OVER (ORDER BY name COLLATE de, id) AS BIGINT) AS pos
    FROM (VALUES {_collation_values_sql()}) t(id, name)
    """,
    category="functions",
)
def collated_sort_locale(spark, sf_dir):
    """Locale-collated global SORT (Std.Uni locale sort surface,
    plugins/unicodelib/unicodelib.cpp; Uni.ecl:193-243): German ICU
    collation via Spark 4 collated strings — comparisons stay JVM-side,
    the range partitioner sorts under the collation, and DuckDB's ICU
    'de' collation is the independent oracle. Rank materialized through
    global numbering so order is observable AND scale-safe."""
    from hpcc_platform_spark.functions.collation import collated
    from hpcc_platform_spark.operators.numbering import global_row_number

    df = inline_dataset(
        spark, list(enumerate(_COLLATION_NAMES)), "id int, name string"
    )
    return global_row_number(
        df, [collated("name", "de"), "id"], name="pos"
    ).select("id", "name", "pos")


@query(
    "collation_compare_strengths",
    oracle=f"""
    WITH names AS (SELECT * FROM (VALUES {_collation_values_sql()}) t(id, name))
    SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
           CASE WHEN a.name COLLATE de < b.name THEN -1
                WHEN a.name COLLATE de > b.name THEN 1 ELSE 0 END AS cmp_tertiary,
           CAST(a.name COLLATE NOCASE = b.name AS BOOLEAN) AS eq_secondary,
           CAST(a.name COLLATE NOCASE.NOACCENT = b.name AS BOOLEAN) AS eq_primary
    FROM names a JOIN names b ON a.id < b.id AND a.id < 8 AND b.id < 8
    """,
    category="functions",
)
def collation_compare_strengths(spark, sf_dir):
    """Std.Uni.CompareAtStrength / LocaleCompareIgnoreCase
    (unicodelib.cpp UnicodeLocaleCompareAtStrength; Uni.ecl:213,225):
    pairwise locale comparison at ICU primary/secondary/tertiary
    strengths. Both engines bind ICU, so the -1/0/1 results and
    strength-equalities cross-check exactly."""
    from hpcc_platform_spark.functions.collation import (
        collated,
        compare_at_strength,
    )

    # JVM literal frame: createDataFrame parallelizes even 8 literal rows
    # into defaultParallelism Python-scan partitions, and the pair cartesian
    # multiplies that into cores^2 tasks (measured 17.5 s for 28 output rows).
    df = inline_dataset(
        spark,
        [(i, n) for i, n in enumerate(_COLLATION_NAMES) if i < 8],
        "id int, name string",
    )
    a = df.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    b = df.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", "name_a", "name_b",
        compare_at_strength("name_a", F.col("name_b"), 3, "de").alias("cmp_tertiary"),
        (collated("name_a", "UNICODE", 2) == collated("name_b", "UNICODE", 2)).alias("eq_secondary"),
        (collated("name_a", "UNICODE", 1) == collated("name_b", "UNICODE", 1)).alias("eq_primary"),
    )


@query(
    "decimal_bcd_semantics",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(ROUND(CAST(o_orderkey AS DECIMAL(20,3)) + CAST('0.005' AS DECIMAL(4,3)), 2) AS DECIMAL(22,2)) AS VARCHAR) AS half_up,
           CAST(CAST(ROUND(-(CAST(o_orderkey AS DECIMAL(20,3)) + CAST('0.005' AS DECIMAL(4,3))), 2) AS DECIMAL(22,2)) AS VARCHAR) AS half_up_neg,
           CAST(CAST(o_orderkey AS DECIMAL(19,0)) * CAST('9999999999999999999' AS DECIMAL(19,0)) AS VARCHAR) AS product38
    FROM orders WHERE o_orderkey <= 2000
    """,
    category="functions",
)
def decimal_bcd_semantics(spark, sf_dir):
    """DECIMAL BCD edge semantics (rtl/nbcd/nbcd.cpp:421-445 Decimal::round
    — round-half-up on the magnitude, sign handled separately, i.e. half
    AWAY FROM ZERO): Spark's DecimalType scale-reduction cast uses exactly
    that rule, so a trailing ...x.005 rounds up and its negation rounds
    down; DuckDB's cast truncates, so the oracle goes through ROUND()
    (also half-away-from-zero) before casting. The 38-digit product
    exercises exact wide arithmetic past the reference's 32-digit BCD
    capacity. Outputs cast to VARCHAR so wide decimals compare as exact
    digit strings."""
    (orders,) = tables(spark, sf_dir, "orders")
    val3 = F.col("o_orderkey").cast("decimal(20,3)") + F.lit("0.005").cast(
        "decimal(4,3)"
    )
    big = F.col("o_orderkey").cast("decimal(19,0)") * F.lit(
        "9999999999999999999"
    ).cast("decimal(19,0)")
    return orders.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        val3.cast("decimal(22,2)").cast("string").alias("half_up"),
        (-val3).cast("decimal(22,2)").cast("string").alias("half_up_neg"),
        big.cast("string").alias("product38"),
    )


# Shared-literal fixture for exotic ingest: EBCDIC bytes generated with
# Python's cp037 codec at import time, baked into BOTH the Spark plan (as
# binary values) and the oracle SQL (as the expected decoded strings).
_EBCDIC_NAMES = ["ALICE", "Bob Jr.", "Müller & Söhne", "data/42"]
_EXOTIC_ROWS = [
    (i, bytearray(n.encode("cp037")), (i * 2654435761) % (1 << 12), i % 4)
    for i, n in enumerate(_EBCDIC_NAMES)
]


@query(
    "exotic_ingest_types",
    oracle=f"""
    SELECT i AS id, name,
           (packed // 16) % 16 AS mid4,
           packed % 16 AS low4,
           CASE code WHEN 1 THEN 'open' WHEN 2 THEN 'closed' ELSE 'unknown' END AS status,
           CASE WHEN code = 2 THEN 'audited' END AS audit_note
    FROM (VALUES {", ".join(f"({i}, '{n}', {p}, {c})" for i, (_, nm, p, c) in zip([r[0] for r in _EXOTIC_ROWS], _EXOTIC_ROWS) for n in [nm.decode("cp037").replace("'", "''")])}) t(i, name, packed, code)
    """,
    category="functions",
)
def exotic_ingest_types(spark, sf_dir):
    """Exotic binary-ingest types (rtlconst.hpp: EBCDIC :79, BITFIELD :36,
    ENUM :39, IFBLOCK :70): EBCDIC bytes decode JVM-side through a
    256-entry translate table; bitfields unpack with shift+mask; enums map
    through a literal lookup; IFBLOCK fields null out when the guard on
    earlier fields is false. The oracle carries the cp037 decodes as
    shared literals (generated by the same codec at import) plus integer
    arithmetic for the bitfields."""
    from hpcc_platform_spark.schema import (
        bitfield_extract,
        ebcdic_to_string,
        enum_decode,
        ifblock,
    )

    df = inline_dataset(
        spark, _EXOTIC_ROWS, "id int, name_raw binary, packed long, code int"
    )
    return df.select(
        "id",
        ebcdic_to_string("name_raw").alias("name"),
        bitfield_extract("packed", 4, 4).alias("mid4"),
        bitfield_extract("packed", 0, 4).alias("low4"),
        enum_decode("code", {1: "open", 2: "closed"}, "unknown").alias("status"),
        *ifblock(F.col("code") == 2, audit_note=F.lit("audited")),
    )


@query(
    "str_functions3",
    oracle="""
    SELECT p_partkey,
           CAST(len(list_filter(string_split(p_name, ' '), w -> w <> '')) AS INT) AS n_words,
           COALESCE(list_filter(string_split(p_name, ' '), w -> w <> '')[2], '') AS word2,
           regexp_replace(p_name, '[^aeiou]', '', 'g') AS vowels,
           repeat(p_brand, 2) AS mfgr_twice,
           starts_with(p_name, 'a') AS starts_a,
           CAST(p_name LIKE '%e' AS BOOLEAN) AS ends_e
    FROM part WHERE p_partkey <= 500
    """,
    category="functions",
)
def str_functions3(spark, sf_dir):
    """Std.Str wave 3 (Str.ecl: CountWords :277, GetNthWord :348,
    StartsWith :236, Filter/Repeat from plugins/stringlib): word
    counting/indexing, character-set filtering, repetition, prefix/suffix
    predicates — all built-in JVM expressions."""
    from hpcc_platform_spark.functions.strings import (
        count_words,
        ends_with,
        filter_chars,
        get_nth_word,
        repeat_str,
        starts_with,
    )

    (part,) = tables(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") <= 500).select(
        "p_partkey",
        count_words("p_name").alias("n_words"),
        get_nth_word("p_name", 2).alias("word2"),
        filter_chars("p_name", "aeiou").alias("vowels"),
        repeat_str("p_brand", 2).alias("mfgr_twice"),
        starts_with("p_name", "a").alias("starts_a"),
        ends_with("p_name", "e").alias("ends_e"),
    )


@query(
    "date_functions3",
    oracle="""
    SELECT o_orderkey,
           CAST((year(o_orderdate) % 4 = 0) AND
                ((year(o_orderdate) % 100 <> 0) OR (year(o_orderdate) % 400 = 0))
                AS BOOLEAN) AS leap,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-08-02') AS INT) AS days_to_ref,
           strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE), '%Y-%m-%d') AS plus_45d,
           strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 14 MONTH AS DATE), '%Y-%m-%d') AS plus_14m
    FROM orders WHERE o_orderkey <= 2000
    """,
    category="functions",
)
def date_functions3(spark, sf_dir):
    """Std.Date wave 3 (Date.ecl: IsLeapYear :220, DayOfYear :337,
    DaysBetween :551, AdjustDate :962): leap rule, ordinal day, signed day
    distance, calendar-aware adjustment — all built-in date arithmetic."""
    from hpcc_platform_spark.functions.dates import (
        adjust_date,
        day_of_year,
        days_between,
        is_leap_year,
    )

    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        is_leap_year(F.year(d)).alias("leap"),
        day_of_year(d).alias("doy"),
        days_between(d, F.lit("1998-08-02")).alias("days_to_ref"),
        F.date_format(adjust_date(d, days=45), "yyyy-MM-dd").alias("plus_45d"),
        F.date_format(adjust_date(d, months=14), "yyyy-MM-dd").alias("plus_14m"),
    )


@query(
    "str_functions4",
    oracle="""
    SELECT c_custkey,
           reverse(c_name) AS name_rev,
           -- DuckDB has no initcap; title-case the two '#'-split halves
           upper(c_name[1]) || lower(c_name[2:]) AS name_title,
           translate(c_name, '#0', '_O') AS name_trans,
           lpad(c_name, 25, '.') AS name_lpad,
           rpad(c_mktsegment, 12, '*') AS seg_rpad,
           CAST(instr(c_name, '#') AS INT) AS hash_pos,
           substr(c_name, 10, 5) AS name_mid,
           ltrim(rtrim('  ' || c_name || '  ')) AS name_trim
    FROM customer WHERE c_custkey <= 400
    """,
    category="functions",
)
def str_functions4(spark, sf_dir):
    """Std.Str wave 4 (Str.ecl: Reverse :188, ToTitleCase :213,
    Translate :400, PadLeft/PadRight, Find :62, SubstituteIncluded/
    ExtractWord family): reverse, title-case, character translation,
    padding, find-position, substring, trim — all codegen JVM built-ins,
    map-only."""
    (cust,) = tables(spark, sf_dir, "customer")
    name = F.col("c_name")
    return cust.where(F.col("c_custkey") <= 400).select(
        "c_custkey",
        F.reverse(name).alias("name_rev"),
        F.concat(
            F.upper(F.substring(name, 1, 1)), F.lower(F.expr("substring(c_name, 2)"))
        ).alias("name_title"),
        F.translate(name, "#0", "_O").alias("name_trans"),
        F.lpad(name, 25, ".").alias("name_lpad"),
        F.rpad(F.col("c_mktsegment"), 12, "*").alias("seg_rpad"),
        F.instr(name, "#").cast("int").alias("hash_pos"),
        F.substring(name, 10, 5).alias("name_mid"),
        F.trim(F.concat(F.lit("  "), name, F.lit("  "))).alias("name_trim"),
    )


@query(
    "date_functions4",
    oracle="""
    SELECT o_orderkey,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(date_diff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_94,
           CAST(strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y%m%d') AS INT) AS plus3mo,
           CAST(strftime(CAST(o_orderdate AS DATE) - INTERVAL 1 YEAR, '%Y%m%d') AS INT) AS minus1yr
    FROM orders WHERE o_orderkey <= 2000
    """,
    category="functions",
)
def date_functions4(spark, sf_dir):
    """Std.Date wave 4 (Date.ecl: Quarter, DayOfWeek :150, WeekNum,
    DaysBetween :384, AdjustDate months/years): quarter, day-of-week
    (DuckDB dow is 0=Sunday, Spark dayofweek is 1=Sunday — oracle adds
    1), ISO week, day diff vs a fixed epoch, month/year arithmetic in the
    reference's YYYYMMDD int encoding."""
    from hpcc_platform_spark.functions import date_to_int

    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.where(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.quarter(d).cast("int").alias("qtr"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.datediff(d, F.lit("1994-01-01").cast("date")).cast("int").alias("days_since_94"),
        date_to_int(F.add_months(d, 3)).alias("plus3mo"),
        date_to_int(F.add_months(d, -12)).alias("minus1yr"),
    )


_EBCDIC_FIXTURE = [
    "apple", "Apple", "APPLE", "zebra9", "Zebra", "9zebra", "  lead",
    "trail  ", "mixedCASE42", "42mixed", "under_score", "hy-phen",
    "dot.sep", "a b c", "A B C", "!bang", "~tilde", "{brace}", "[brak]",
    "quote'q", "plus+9", "ZZ top", "zz TOP", "0", "9", "a", "z", "A", "Z",
]


def _ebcdic_values_sql() -> str:
    return ", ".join(
        "({}, '{}')".format(i, s.replace("'", "''"))
        for i, s in enumerate(_EBCDIC_FIXTURE)
    )


def _ebcdic_oracle() -> str:
    from hpcc_platform_spark.functions.collation import ebcdic_translate_sql

    return f"""
    SELECT id, s,
           CAST(row_number() OVER (
             ORDER BY {ebcdic_translate_sql('s')}, id) AS BIGINT) AS pos
    FROM (VALUES {_ebcdic_values_sql()}) t(id, s)
    """


@query("ebcdic_collated_sort", oracle=_ebcdic_oracle(), category="functions")
def ebcdic_collated_sort(spark, sf_dir):
    """EBCDIC (CCSID 037) collated sort beyond codec-level ingest: the
    sort KEY is the CP037 byte image (functions/collation.ebcdic_sort_key,
    JVM translate — codepoint order == EBCDIC byte order), so lowercase
    sorts before uppercase before digits, as the reference compares
    EBCDIC STRING fields (type_ebcdic rtlconst.hpp:79; rtl codec tables).
    Oracle applies the identical CP037 translate in DuckDB."""
    from hpcc_platform_spark.functions.collation import ebcdic_sort_key
    from hpcc_platform_spark.operators.numbering import global_row_number

    df = inline_dataset(
        spark, list(enumerate(_EBCDIC_FIXTURE)), "id int, s string"
    )
    return global_row_number(
        df, [ebcdic_sort_key("s"), "id"], name="pos"
    ).select("id", "s", "pos")


@query(
    "crypto_hashes",
    oracle="""
    SELECT doc_id,
           sha256(text) AS sha256_hex,
           md5(text) AS md5_hex
    FROM documents
    """,
    category="functions",
)
def crypto_hashes(spark, sf_dir):
    """Std.Crypto hashing (plugins/cryptolib/cryptolib.cpp:304 clHash):
    SHA-256 and MD5 digests of every document, JVM-side (sha2/md5
    codegen expressions — no Python in the loop). SHA-1/224/384/512 are
    covered by NIST-vector tests (DuckDB lacks those functions)."""
    from hpcc_platform_spark.functions.crypto import cl_hash

    (docs,) = tables(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        cl_hash("text", "SHA256").alias("sha256_hex"),
        cl_hash("text", "MD5").alias("md5_hex"),
    )
