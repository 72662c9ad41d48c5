package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** §2.7 scalar function surface: string / regexp / date / math / array /
  * higher-order / json / hash / UDF. All built-ins (codegen'd) except the
  * one deliberate Scala UDF (`udf_scalar`, the KStream.mapValues analog).
  *
  * Cross-engine notes baked into the oracles:
  *  - DuckDB `dayofweek` is 0=Sunday, Spark is 1=Sunday → `+1` in SQL;
  *  - DuckDB len()/count() return BIGINT where Spark returns INT → CAST;
  *  - float math is done on exact double-widened elements so both engines
  *    accumulate identically (see FloatVecDot for the same trick).
  */
object ScalarFuncs {

  val ops: Seq[Op] = Seq(
    Op("fn_string", (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("lname"),
        upper(col("c_mktsegment")).as("useg"),
        trim(col("c_name")).as("tname"),
        substring(col("c_name"), 1, 8).as("name_pref"),
        concat(col("c_name"), lit("_"), col("c_mktsegment")).as("name_seg"),
        length(col("c_name")).as("name_len"),
      ).orderBy("c_custkey"),
      Some("""SELECT c_custkey, lower(c_name) AS lname, upper(c_mktsegment) AS useg,
             | trim(c_name) AS tname, substring(c_name, 1, 8) AS name_pref,
             | c_name || '_' || c_mktsegment AS name_seg,
             | CAST(length(c_name) AS INT) AS name_len
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // URL parsing — the web-corpus normalization primitive (host-level
    // dedup, domain mixing, canonical ids all start with parse_url).
    // The URL is synthesized deterministically from existing columns, so
    // the oracle states the closed forms each component provably equals;
    // the Spark side exercises the real parser (HOST / PATH / QUERY-
    // param extraction + a lowercased canonical host).
    Op("fn_url_parse", (s, dir) => {
      val url = concat(lit("https://"), upper(col("source")),
        lit(".Example.org/docs/"), col("doc_id"),
        lit("?ref=feed&k="), col("doc_id") % 7)
      t(s, dir, "documents").select(
        col("doc_id"),
        parse_url(url, lit("HOST")).as("host"),
        lower(parse_url(url, lit("HOST"))).as("canon_host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY"), lit("k")).as("k_param"),
      ).orderBy("doc_id")
    },
      Some("""SELECT doc_id,
             | upper(source) || '.Example.org' AS host,
             | lower(source) || '.example.org' AS canon_host,
             | '/docs/' || CAST(doc_id AS VARCHAR) AS path,
             | CAST(doc_id % 7 AS VARCHAR) AS k_param
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // XML surface (Spark 4 ships the xml reader + from_xml natively):
    // a synthesized order document exercises BOTH extraction paths — the
    // schema'd from_xml parse (attribute → "_"-prefixed field, elements
    // → named fields; one parse, typed access) and per-path xpath_*
    // (re-parse per call — fine for one-off drills, the documented
    // anti-pattern for wide extraction, mirroring the VARIANT-vs-
    // get_json_object pairing). Doubles stay OUT of the payload: float
    // → string rendering differs across engines, so the XML carries
    // only ints/strings and the oracle states the closed forms.
    Op("fn_xml", (s, dir) => {
      val x = concat(
        lit("""<order id=""""), col("o_orderkey"), lit("""">"""),
        lit("<status>"), col("o_orderstatus"), lit("</status>"),
        lit("<cust>"), col("o_custkey"), lit("</cust>"),
        lit("</order>"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), x.as("x"))
        .withColumn("parsed", from_xml(col("x"),
          lit("STRUCT<_id: BIGINT, status: STRING, cust: BIGINT>")))
        .select(col("o_orderkey"),
          col("parsed._id").as("fx_id"),
          col("parsed.status").as("fx_status"),
          col("parsed.cust").as("fx_cust"),
          xpath_string(col("x"), lit("/order/status")).as("xp_status"),
          xpath_long(col("x"), lit("/order/@id")).as("xp_id"))
        .orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, o_orderkey AS fx_id, o_orderstatus AS fx_status,
             | o_custkey AS fx_cust, o_orderstatus AS xp_status,
             | o_orderkey AS xp_id
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // The `inline` generator — the remaining Catalyst generator form next
    // to explode/posexplode/stack (unpivot_metrics): one array<struct>
    // cell fans out to N typed rows with the struct fields as columns.
    // This is the denormalization step for nested corpus metadata
    // (per-document annotation lists, per-image region lists) — a
    // map-side row expansion with zero shuffle; the derived value uses
    // +10.0 (an exact IEEE op) rather than per-row round(), which is
    // engine-divergent at .xx5 boundaries.
    Op("fn_inline_explode", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), expr(
          "inline(array(struct('base' AS tag, o_totalprice AS v)," +
            " struct('plus10' AS tag, o_totalprice + 10.0 AS v)))"))
        .orderBy("o_orderkey", "tag"),
      Some("""SELECT o_orderkey, tag, v FROM (
             |  SELECT o_orderkey, 'base' AS tag, o_totalprice AS v FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, 'plus10', o_totalprice + 10.0 FROM orders)
             |ORDER BY o_orderkey, tag""".stripMargin)),

    // CSV as a SCALAR codec (`to_csv`/`from_csv`) — the embedded-record
    // twin of the fn_json/fn_xml keys: serialize a struct to one CSV
    // line per row, parse it back with an explicit DDL schema, and prove
    // the field round-trip (including a double — both writers emit
    // shortest-round-trip decimals, the scan_csv_roundtrip pin). This is
    // the cell-level path for corpora whose props arrive as embedded CSV
    // fragments inside another container, where a file-level CSV scan
    // never runs. Pure projection — codegen'd, no shuffle.
    Op("fn_csv_parse", (s, dir) => {
      val src = t(s, dir, "lineitem")
      src.select(col("l_orderkey"), col("l_linenumber"),
          to_csv(struct(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"))).as("line"))
        .withColumn("parsed", from_csv(col("line"),
          lit("rf STRING, qty DOUBLE, price DOUBLE"),
          new java.util.HashMap[String, String]()))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("parsed.rf").as("rf"), col("parsed.qty").as("qty"),
          col("parsed.price").as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      // from_csv(to_csv(x)) is field-exact (double parse inverts the
      // shortest-round-trip render), so the oracle is the identity select.
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag AS rf,
             | l_quantity AS qty, l_extendedprice AS price
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Op("fn_regexp", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"),
      ).orderBy("p_partkey"),
      Some("""SELECT p_partkey, regexp_extract(p_type, '^(\w+)', 1) AS type_head,
             | regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels
             |FROM part ORDER BY p_partkey""".stripMargin)),

    Op("fn_split_explode", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .orderBy("doc_id", "word"),
      Some("""SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |FROM documents ORDER BY doc_id, word""".stripMargin)),

    Op("fn_date", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofweek(col("o_orderdate")).as("dow"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .as("days_since"),
        date_add(to_date(col("o_orderdate")), 7).as("week_later"),
      ).orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | date_trunc('month', o_orderdate) AS mon,
             | CAST(year(o_orderdate) AS INT) AS yr,
             | CAST(month(o_orderdate) AS INT) AS mo,
             | CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
             | CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
             | CAST(o_orderdate AS DATE) + 7 AS week_later
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Calendar functions beyond fn_date: quarter/day-of-year boundaries,
    // month-end snapping, date construction.
    Op("fn_date_extras", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofyear(col("o_orderdate")).as("doy"),
        last_day(col("o_orderdate")).as("month_end"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
          .as("month_start"),
      ).orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             | CAST(quarter(o_orderdate) AS INT) AS qtr,
             | CAST(dayofyear(o_orderdate) AS INT) AS doy,
             | last_day(CAST(o_orderdate AS DATE)) AS month_end,
             | make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1)
             |   AS month_start
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Op("fn_math", (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
        round(pow(col("l_discount"), 2), 8).as("disc_sq"),
        abs(col("l_quantity") - lit(25.0)).as("qty_dev"),
      ).orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             | round(ln(l_extendedprice), 6) AS ln_price,
             | round(sqrt(l_quantity), 6) AS sqrt_qty,
             | round(pow(l_discount, 2), 8) AS disc_sq,
             | abs(l_quantity - 25.0) AS qty_dev
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Every output column is a scalar (the driver's oracle harness hashes
    // pandas values — a raw array column is unhashable there), so the
    // slice/head is emitted as three element columns, not one array.
    Op("fn_array", (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("e1"),
        element_at(col("embedding"), 2).as("e2"),
        element_at(col("embedding"), 3).as("e3"),
        array_min(col("embedding")).as("emin"),
        array_max(col("embedding")).as("emax"),
        array_contains(col("embedding"), lit(0.0f)).as("has_zero"),
      ).orderBy("vec_id"),
      Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
             | embedding[1] AS e1, embedding[2] AS e2, embedding[3] AS e3,
             | list_min(embedding) AS emin, list_max(embedding) AS emax,
             | list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Higher-order functions over the embedding vector. Elements are
    // double-widened before multiplying (exact) so the sequential double
    // accumulation is bit-identical in DuckDB.
    Op("fn_array_higher_order", (s, dir) => {
      val xs = transform(col("embedding"), x => x.cast("double"))
      val sq = zip_with(xs, xs, (x, y) => x * y)
      t(s, dir, "embeddings").select(
        col("vec_id"),
        sqrt(aggregate(sq, lit(0.0), (acc, x) => acc + x)).as("l2_norm"),
        aggregate(xs, lit(0.0), (acc, x) => acc + x).as("sum_elems"),
        size(filter(xs, x => x > lit(0.0))).as("n_positive"),
      ).orderBy("vec_id")
    },
      Some("""SELECT vec_id,
             | sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
             | list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS sum_elems,
             | CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS INT) AS n_positive
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Op("fn_json", (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_int"),
      ).orderBy("event_id"),
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k_str,
             | CAST(json_extract_string(props, '$.k') AS INT) AS k_int
             |FROM events ORDER BY event_id""".stripMargin)),

    // Binary interchange codecs — base64/hex over the binary payload
    // (how media bytes and hashes travel through JSON/CSV boundaries)
    // plus the decode round-trip identity. Pure scan-stage projections.
    // The base64 column encodes a 48-byte slice: Spark's base64 emits
    // MIME-chunked output (a CRLF every 76 chars) that no other engine
    // reproduces — an interchange format, not a value — so the oracle
    // compares the sub-line-length prefix and the round-trip identity
    // covers the full payload.
    Op("fn_binary_codec", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        base64(encode(substring(col("text"), 1, 48), "UTF-8")).as("b64"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("hex8"),
        decode(unbase64(base64(encode(col("text"), "UTF-8"))), "UTF-8")
          .as("roundtrip"),
      ).orderBy("doc_id"),
      Some("""SELECT doc_id, to_base64(CAST(substr(text, 1, 48) AS BLOB)) AS b64,
             | hex(substr(text, 1, 8)) AS hex8, text AS roundtrip
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Spark-4 collation surface: per-column case-insensitive semantics
    // via collate(…, 'UTF8_LCASE') — grouping/distinct/compare follow
    // the collation with NO lower() rewrite in the plan, the idiomatic
    // form for case-insensitive analytics since 4.0 (and the pattern a
    // mixed-case web corpus needs everywhere). A deterministically
    // mixed-cased copy of p_type is counted distinct under binary vs
    // case-insensitive collation per brand; the oracle states the
    // ASCII-equivalent lower() formulation.
    Op("fn_collation", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_brand"),
          when(col("p_partkey") % 2 === 0, lower(col("p_type")))
            .otherwise(col("p_type")).as("typ"))
        .groupBy("p_brand")
        .agg(countDistinct(col("typ")).as("n_case_sensitive"),
          countDistinct(collate(col("typ"), "UTF8_LCASE"))
            .as("n_case_insensitive"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand,
             | count(DISTINCT typ) AS n_case_sensitive,
             | count(DISTINCT lower(typ)) AS n_case_insensitive
             |FROM (SELECT p_brand,
             |   CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS typ
             | FROM part)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The Spark-4-native semi-structured path: parse once into VARIANT
    // (a binary-encoded form the scan can shred/push down, vs the
    // re-parse-per-access of get_json_object), then typed extraction.
    // variant_get casts in the binary domain — no per-access JSON text
    // parse, the decisive difference when a 100 TB event stream carries
    // a props blob read by many projections. Missing paths: the `try_`
    // form yields NULL (its non-try twin would throw in ANSI mode).
    Op("fn_variant_extract", (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k_int"),
        variant_get(parse_json(col("props")), "$.k", "string").as("k_str"),
        try_variant_get(parse_json(col("props")), "$.missing", "string")
          .as("missing_str"),
      ).orderBy("event_id"),
      Some("""SELECT event_id,
             | CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
             | json_extract_string(props, '$.k') AS k_str,
             | json_extract_string(props, '$.missing') AS missing_str
             |FROM events ORDER BY event_id""".stripMargin)),

    Op("fn_hash", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
      ).orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Op("udf_scalar", (s, dir) => {
      val label = udf((eventType: String, value: Double) =>
        if (eventType == "purchase" && value > 50.0) "big_buy"
        else if (eventType == "error") "err"
        else "other")
      events(s, dir)
        .select(col("event_id"), label(col("event_type"), col("value")).as("label"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id,
             | CASE WHEN event_type = 'purchase' AND value > 50.0 THEN 'big_buy'
             |      WHEN event_type = 'error' THEN 'err'
             |      ELSE 'other' END AS label
             |FROM events ORDER BY event_id""".stripMargin)),
  )
}
