package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Testdata schema contract + tripwire (VERDICT r6 #2).
  *
  * Round 6 lost 46 queries and 49 tests to ONE silent environmental
  * drift: events.parquet switched from ns-long `ts` to µs timestamps and
  * every failure surfaced as an opaque per-query analysis error. This
  * object pins what each input table must look like — column names plus
  * the set of physical types the engine's readers genuinely handle — so
  * drift becomes ONE labeled failure naming the table, the column, and
  * the remediation point.
  *
  * The acceptable-type sets are deliberately exactly as wide as the
  * reader dispatch: `events.ts` lists the three vintages
  * [[Tables.normalizeTs]] handles; date-ish columns list the types
  * `to_date`/direct comparison handle. Widening a set here without
  * widening the reader (or vice versa) is the bug this file exists to
  * catch in review.
  */
object Contract {

  /** Types `to_date(col)` and date comparisons handle transparently. */
  private val DateLike: Set[DataType] =
    Set(TimestampType, TimestampNTZType, DateType, StringType)
  /** The three events.ts vintages [[Tables.normalizeTs]] dispatches on. */
  private val EventTs: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType)

  private def exact(t: DataType): Set[DataType] = Set(t)

  /** table → ordered (column → acceptable types). */
  val expected: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
      "n_regionkey" -> exact(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
      "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
      "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> DateLike, "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
      "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> DateLike),
    "events" -> Seq(
      "event_id" -> exact(LongType), "ts" -> EventTs,
      "user_id" -> exact(LongType), "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)),
    "documents" -> Seq(
      "doc_id" -> exact(LongType), "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> exact(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> exact(LongType),
      "embedding" -> Set[DataType](ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false)),
      "label" -> exact(IntegerType))
  )

  /** Pure core (spec-testable without touching disk): violations of the
    * contract for the given actual schemas. Empty = contract holds. */
  def violationsOf(actual: Map[String, StructType]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      actual.get(table) match {
        case None => Seq(s"$table: table missing from testdata dir")
        case Some(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          val missing = cols.collect {
            case (name, _) if !byName.contains(name) =>
              s"$table.$name: column missing (have: ${schema.fieldNames.mkString(", ")})"
          }
          val mistyped = cols.collect {
            case (name, ok) if byName.contains(name) && !ok.contains(byName(name)) =>
              s"$table.$name: type ${byName(name).simpleString} not in accepted " +
                s"{${ok.map(_.simpleString).mkString(", ")}}"
          }
          val extra = schema.fieldNames.filterNot(cols.map(_._1).toSet)
            .map(n => s"$table.$n: unexpected extra column")
          missing ++ mistyped ++ extra
      }
    }

  /** Every contracted table's parquet footer schema in `dir`, through
    * [[Tables.schema]] (so later reads of the dir reuse it). An
    * unreadable/absent file is simply omitted — [[violationsOf]] then
    * reports it as "table missing" instead of aborting the whole scan. */
  def actualSchemas(s: SparkSession, dir: String): Map[String, StructType] =
    expected.keys.flatMap { t =>
      try Some(t -> Tables.schema(s, dir, t))
      catch { case _: Throwable => None }
    }.toMap

  def violations(s: SparkSession, dir: String): Seq[String] =
    violationsOf(actualSchemas(s, dir))

  /** Throw ONE labeled failure if the testdata contract is broken.
    * Verify calls this before running any query, so schema drift reads
    * as a single remediation message instead of N analysis errors. */
  def preflight(s: SparkSession, dir: String): Unit = {
    val v = violations(s, dir)
    if (v.nonEmpty) throw new IllegalStateException(
      s"TESTDATA SCHEMA DRIFT in $dir — the engine's readers do not " +
        "handle these shapes; extend the reader dispatch (e.g. " +
        "Tables.normalizeTs for events.ts) AND the matching Contract " +
        "entry together:\n  " + v.mkString("\n  "))
    asciiPreflight(s, dir)
  }

  /** mm-family ASCII invariant (ADVICE r11): the mm_decode_wav/png
    * oracles equate DuckDB's CHARACTER-based substr/md5 with the
    * engine's UTF-8 BYTE md5 — sound only while documents.text is pure
    * ASCII (char-substr ≡ byte-substr there). The corpus generator
    * emits ASCII, but nothing enforced it; a single non-ASCII document
    * would flip those oracle verdicts silently. Assert the invariant
    * once per Verify run (one codegen'd rlike scan over documents —
    * sub-second even at sf1) so a drift fails HERE with a name, not
    * downstream as an unexplained mm-family hash mismatch. */
  def asciiPreflight(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val n = Tables.documents(s, dir)
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
    if (n > 0) throw new IllegalStateException(
      s"mm-family ASCII invariant broken in $dir: $n documents.text " +
        "rows contain non-ASCII characters; the mm_decode_* oracles' " +
        "char-substr ≡ byte-substr equivalence no longer holds — " +
        "rewrite those oracles over encode(text) bytes before trusting " +
        "their verdicts")
  }
}
