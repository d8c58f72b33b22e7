package graft.operators

import graft.{Oracle, Q}
import graft.sources.RestSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.1 API-shaped sources: the REST lookup source (canned
  * transport, real parsing/pushdown plumbing) and the JSON token/config
  * read. Oracles are literal SELECTs — the payloads are deterministic
  * connector fixtures, not parquet data.
  */
object Api {

  private val TokenJson =
    """{"id_token":"idt-1","access_token":"acc-1","expires_at":1767225600,
      |"token_type":"Bearer","refresh_token":"ref-1"}""".stripMargin
      .replace("\n", "")

  private val TokenSchema = StructType(Seq(
    StructField("id_token", StringType),
    StructField("access_token", StringType),
    StructField("expires_at", LongType),
    StructField("token_type", StringType),
    StructField("refresh_token", StringType)))

  private val BadTokenJson =
    """{"id_token":"idt-2","access_token":null,"expires_at":1767225600,
      |"token_type":"Bearer"}""".stripMargin.replace("\n", "")

  val queries: Seq[Q] = Seq(

    // Batched-sink batch assignment (/root/reference/src/apiFunctions.ts:58-80
    // posts docs in batches; the sink's deterministic global batching as
    // a checkable query: batch = rank/50 over the total order). The
    // global rank comes from Ranking.globalRowNumber, NOT a
    // partition-less window — identical output, no single-task sort.
    Q("snk_api_batch", Oracle.withCtes(
      """SELECT batch_id, COUNT(*) AS n, MIN(id) AS first_id, MAX(id) AS last_id
        |FROM (
        |  SELECT id, CAST((row_number() OVER (ORDER BY id) - 1) // 50 AS INTEGER) AS batch_id
        |  FROM charge WHERE customerId = '42'
        |) t GROUP BY batch_id ORDER BY batch_id""".stripMargin, Oracle.charge)) {
      (s, d) =>
        val filtered = graft.Tables.charge(s, d)
          .filter(col("customerId") === "42").select("id")
        Ranking.globalRowNumber(filtered, "id")
          .withColumn("batch_id",
            floor((col("row_num") - 1) / 50).cast("int"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n"), min(col("id")).as("first_id"),
            max(col("id")).as("last_id"))
          .orderBy("batch_id")
    },

    // JSON-log naming with collision suffixes
    // (/root/reference/src/helpers.ts:55-66): the k-th collision maps
    // base.json → base{a,b,c,…}.json via chr(97+k-1).
    Q("snk_json_log",
      """SELECT k,
        |       CASE WHEN k = 0 THEN 'response-2024-01-15.json'
        |            ELSE regexp_replace('response-2024-01-15.json', '\.json$',
        |                                concat(chr(CAST(96 + k AS INTEGER)), '.json')) END AS logName
        |FROM (SELECT CAST(unnest(range(0, 6)) AS INTEGER) AS k) t ORDER BY k""".stripMargin) {
      (s, _) =>
        import s.implicits._
        (0 until 6).toDF("k")
          .select(col("k"),
            when(col("k") === 0, "response-2024-01-15.json")
              .otherwise(regexp_replace(lit("response-2024-01-15.json"),
                lit("\\.json$"), concat(expr("chr(96 + k)"), lit(".json"))))
              .as("logName"))
          .orderBy("k")
    },

    // Log-name suffix rewrite scalar
    // (/root/reference/src/helpers.ts:62): regex-replace the extension
    // with letter+ext, letters from chr(97+n).
    Q("fn_regex_suffix",
      """SELECT n, chr(CAST(97 + n AS INTEGER)) AS letter,
        |       regexp_replace('resp-2023-01-31.json', '\.json$',
        |                      concat(chr(CAST(97 + n AS INTEGER)), '.json')) AS renamed
        |FROM (SELECT CAST(unnest(range(0, 5)) AS INTEGER) AS n) t ORDER BY n""".stripMargin) {
      (s, _) =>
        import s.implicits._
        (0 until 5).toDF("n")
          .select(col("n"), expr("chr(97 + n)").as("letter"),
            regexp_replace(lit("resp-2023-01-31.json"), lit("\\.json$"),
              concat(expr("chr(97 + n)"), lit(".json"))).as("renamed"))
          .orderBy("n")
    },

    // Required-field token validation over good AND bad payloads
    // (/root/reference/src/helpers.ts:130-140: five fields or throw).
    Q("chk_token_fields",
      """SELECT idx, is_valid FROM (
        |  SELECT 0 AS idx, TRUE AS is_valid
        |  UNION ALL SELECT 1, FALSE
        |) t ORDER BY idx""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq((0, TokenJson), (1, BadTokenJson)).toDF("idx", "body")
        .select(col("idx"),
          from_json(col("body"), TokenSchema).as("t"))
        .select(col("idx"),
          (col("t.id_token").isNotNull && col("t.access_token").isNotNull
            && col("t.expires_at").isNotNull && col("t.token_type").isNotNull
            && col("t.refresh_token").isNotNull).as("is_valid"))
        .orderBy("idx")
    },

    // REST source with pushed filter (= query-param construction,
    // /root/reference/src/apiFunctions.ts:130-147): canned server, real
    // where-string build + from_json/explode parse.
    Q("src_api_lookup",
      (1 to 3).map(i =>
        s"""SELECT 'inv-2024-01-15-$i' AS invoiceID, '2024-01-15' AS dateString,
           |'DD/$i' AS reference, 'SUBMITTED' AS status,
           |CAST($i${"00"}.25 AS DOUBLE) AS total""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY invoiceID")) { (s, _) =>
      RestSource.fetchInvoices(s, RestSource.cannedServer,
        "Day Dockets", "2024-01-15")
        .orderBy("invoiceID")
    },

    // JSON token/config read with required-field validation
    // (/root/reference/src/helpers.ts:128-151: token set must carry 5
    // fields).
    Q("src_json_token",
      """SELECT 'acc-1' AS access_token, 'Bearer' AS token_type,
        |CAST(1767225600 AS BIGINT) AS expires_at, TRUE AS is_valid""".stripMargin) {
      (s, _) =>
        import s.implicits._
        Seq(TokenJson).toDF("body")
          .select(from_json(col("body"), TokenSchema).as("t"))
          .select(col("t.access_token").as("access_token"),
            col("t.token_type").as("token_type"),
            col("t.expires_at").as("expires_at"),
            (col("t.id_token").isNotNull && col("t.access_token").isNotNull
              && col("t.expires_at").isNotNull && col("t.token_type").isNotNull
              && col("t.refresh_token").isNotNull).as("is_valid"))
    }
  )
}
