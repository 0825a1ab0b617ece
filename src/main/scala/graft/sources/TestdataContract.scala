package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The pinned reader contract for the driver-generated testdata, plus the
  * two runtime services built on it:
  *
  *  - [[preflight]] + [[yearWindowViolations]]: checks every entry point
  *    (`Verify`, `VerifyMulti`, perfbench) runs BEFORE any query, so a
  *    driver-side testdata regeneration surfaces as ONE message naming
  *    the table and column — not as N downstream query crashes (round 8:
  *    `events.ts` changed parquet type mid-round and the drift surfaced
  *    as 22 analysis failures spread over two artifacts). The schema
  *    check is footer-only: [[SourceReader]] reads each table's parquet
  *    footer on the driver, so it runs no Spark job, and a table
  *    rewritten in place is read again. The year-window check adds one
  *    min/max aggregate per pinned ts column (a type-correct but
  *    decade-shifted regeneration would silently move every
  *    date-derived mart).
  *  - [[fingerprintJson]]: the dataset identity (per-table schema hash +
  *    row count) stamped into `BENCH_full.json` and the Verify out-dir,
  *    so artifact consumers can tell a testdata regeneration from a code
  *    change mechanically (round 9: the 47.5 s-vs-58.6 s cross-round
  *    delta was cross-DATASET, and only a doc footnote said so).
  *
  * TestdataSchemaSpec asserts the same pins under `sbt test`; this object
  * is the single source of truth for them. A pin maps a column to the SET
  * of Spark types the readers can adapt to (cf. `Feeds.normalizeEventTs`
  * for the events.ts multi-vintage story) — drift inside the set is
  * handled, drift outside it is reported.
  */
object TestdataContract {

  /** Timestamp columns accept both parquet flavors — UTC-adjusted
    * (TimestampType) and NTZ — since the pinned UTC session zone makes
    * the cast wall-clock identity. */
  private val tsLike: Set[DataType] = Set(TimestampType, TimestampNTZType)

  /** events.ts additionally accepts nanos-as-long (the round 1-7
    * generator vintage, readable only with the nanosAsLong legacy conf
    * that [[rawTable]] sets).
    *
    * VALID INSTANT RANGE of the nanos arm: `Feeds.normalizeEventTs`
    * accepts a long only when it is ≥ [[EventsNanosFloor]] (1e17 ns ≈
    * 1973-03-03T09:46:40Z) — smaller values are indistinguishable from a
    * micros/millis vintage and fail loud. Legitimate epoch-nanos for
    * instants before ~Mar 1973 (and all pre-1970 negatives) are
    * therefore rejected BY DESIGN; that is safe because the generator's
    * pinned year window for events.ts ([[yearWindows]]: 1990-2035) sits
    * entirely above the floor. */
  private val eventsTs: Set[DataType] = tsLike + LongType

  /** Smallest long `Feeds.normalizeEventTs` accepts as epoch-NANOS
    * (≈ 1973-03-03T09:46:40Z). Epoch-micros for any in-window date are
    * ~1e15 and epoch-millis ~1e12 — both far below, so a unit-shifted
    * vintage fails loud instead of silently landing near 1970. Shared by
    * the in-plan guard (etl.Feeds) and the FeedsEventsSpec band
    * assertions so the threshold cannot drift between them. */
  val EventsNanosFloor: Long = 100000000000000000L

  /** Pinned plausible YEAR windows (inclusive) for the generator's
    * date/timestamp columns, from the observed generator ranges with
    * margin: o_orderdate 1995..2001 and l_shipdate 1995..2001 (stable
    * across every vintage so far) pinned at 1990-2010; events.ts
    * 2024-01 pinned at 1990-2035 (the FeedsEventsSpec band). A
    * regenerated table that is TYPE-correct but decade-shifted would
    * silently move every date-derived mart; [[yearWindowViolations]]
    * names it at preflight instead. */
  val yearWindows: Seq[(String, String, Int, Int)] = Seq(
    ("orders", "o_orderdate", 1990, 2010),
    ("lineitem", "l_shipdate", 1990, 2010),
    ("events", "ts", 1990, 2035))

  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def pins(name: String): Map[String, Set[DataType]] = name match {
    case "region" => Map("r_regionkey" -> Set(IntegerType),
      "r_name" -> Set(StringType))
    case "nation" => Map("n_nationkey" -> Set(IntegerType),
      "n_name" -> Set(StringType), "n_regionkey" -> Set(IntegerType))
    case "customer" => Map("c_custkey" -> Set(LongType),
      "c_name" -> Set(StringType), "c_nationkey" -> Set(IntegerType),
      "c_acctbal" -> Set(DoubleType), "c_mktsegment" -> Set(StringType))
    case "supplier" => Map("s_suppkey" -> Set(LongType),
      "s_name" -> Set(StringType), "s_nationkey" -> Set(IntegerType),
      "s_acctbal" -> Set(DoubleType))
    case "part" => Map("p_partkey" -> Set(LongType),
      "p_name" -> Set(StringType), "p_brand" -> Set(StringType),
      "p_type" -> Set(StringType), "p_size" -> Set(IntegerType),
      "p_retailprice" -> Set(DoubleType))
    case "orders" => Map("o_orderkey" -> Set(LongType),
      "o_custkey" -> Set(LongType), "o_orderstatus" -> Set(StringType),
      "o_totalprice" -> Set(DoubleType), "o_orderdate" -> tsLike,
      "o_orderpriority" -> Set(StringType))
    case "lineitem" => Map("l_orderkey" -> Set(LongType),
      "l_partkey" -> Set(LongType), "l_suppkey" -> Set(LongType),
      "l_linenumber" -> Set(IntegerType), "l_quantity" -> Set(DoubleType),
      "l_extendedprice" -> Set(DoubleType), "l_discount" -> Set(DoubleType),
      "l_tax" -> Set(DoubleType), "l_returnflag" -> Set(StringType),
      "l_linestatus" -> Set(StringType), "l_shipdate" -> tsLike)
    case "events" => Map("event_id" -> Set(LongType),
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType),
      "ts" -> eventsTs)
    case "documents" => Map("doc_id" -> Set(LongType),
      "text" -> Set(StringType), "lang" -> Set(StringType),
      "source" -> Set(StringType), "n_chars" -> Set(LongType))
    case "embeddings" => Map("vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
                         ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType))
    case other => throw new IllegalArgumentException(s"no pin for $other")
  }

  /** The nanosAsLong conf is session-wide and harmless on non-nanos
    * files; setting it before touching events keeps a nanos-vintage
    * events.parquet readable for the checks exactly as `Feeds.events`
    * reads it for queries. */
  private def nanosAsLongFor(spark: SparkSession, name: String): Unit =
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Raw (un-normalized) read of one input table. */
  private def rawTable(spark: SparkSession, dir: String, name: String) = {
    nanosAsLongFor(spark, name)
    SourceReader.table(spark, dir, name)
  }

  /** One table's contract violations as (table, column, detail). A table
    * that cannot be read at all reports a single ("table", "*", why) row.
    * Footer-only: the schema is [[SourceReader.schema]]'s, read on the
    * driver, so no Spark job runs and no data is scanned. */
  private[graft] def checkTable(spark: SparkSession, dir: String,
                                name: String): Seq[(String, String, String)] =
    try {
      nanosAsLongFor(spark, name)
      val schema = SourceReader.schema(spark, dir, name)
      pins(name).toSeq.sortBy(_._1).flatMap { case (colName, ok) =>
        schema.fieldNames.find(_ == colName) match {
          case None => Seq((name, colName, s"column $colName missing"))
          case Some(_) =>
            val got = schema(colName).dataType
            if (ok.contains(got)) Nil
            else Seq((name, colName,
              s"$name.$colName is $got, engine expects one of " +
                ok.mkString("/")))
        }
      }
    } catch { case e: Throwable =>
      Seq((name, "*", s"$name unreadable: " +
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"))
    }

  /** All SCHEMA contract violations for a testdata dir; empty = contract
    * holds. Footer-only — value windows are [[yearWindowViolations]]. */
  def preflight(spark: SparkSession, dir: String): Seq[(String, String, String)] =
    tables.flatMap(checkTable(spark, dir, _))

  /** Year of a raw min/max value as Spark returns it for the ts column
    * flavors the contract accepts (java.sql.Timestamp for TimestampType,
    * LocalDateTime for NTZ, raw epoch-nanos long for the legacy events
    * vintage; Instant/LocalDate cover the java8 datetime API confs). */
  private def yearOf(v: Any): Int = v match {
    case l: java.lang.Long =>
      java.time.Instant.ofEpochSecond(0, l)
        .atZone(java.time.ZoneOffset.UTC).getYear
    case ts: java.sql.Timestamp =>
      ts.toInstant.atZone(java.time.ZoneOffset.UTC).getYear
    case d: java.sql.Date => d.toLocalDate.getYear
    case ldt: java.time.LocalDateTime => ldt.getYear
    case ld: java.time.LocalDate => ld.getYear
    case i: java.time.Instant => i.atZone(java.time.ZoneOffset.UTC).getYear
    case other => throw new IllegalArgumentException(
      s"unexpected min/max value class ${other.getClass.getName}")
  }

  /** Value-window violations for the pinned ts columns (r10 verdict item
    * 4): one min/max aggregate per pinned column — raw column min/max
    * (no expression wrapper), so parquet MIN/MAX footer-stat pushdown
    * applies where enabled and at worst it is a single-column scan. The
    * legacy events nanos-long column is converted driver-side, which
    * also catches a unit-shifted long vintage here (micros read as nanos
    * land in ~1970, outside every window) in addition to the per-row
    * in-plan guard. An unreadable/missing column reports itself rather
    * than throwing — preflight must never be the thing that crashes. */
  private[graft] def yearWindowViolations(
      spark: SparkSession, dir: String): Seq[(String, String, String)] =
    yearWindows.flatMap { case (t, c, lo, hi) =>
      try {
        import org.apache.spark.sql.functions.{col, max, min}
        val df = rawTable(spark, dir, t)
        if (!df.schema.fieldNames.contains(c))
          Seq((t, c, s"column $c missing (year-window check)"))
        else {
          val row = df.agg(min(col(c)), max(col(c))).head()
          if (row.isNullAt(0)) Nil // empty table: nothing to window-check
          else {
            val (gotLo, gotHi) = (yearOf(row.get(0)), yearOf(row.get(1)))
            if (gotLo >= lo && gotHi <= hi) Nil
            else Seq((t, c,
              s"$t.$c spans years [$gotLo, $gotHi], outside the pinned " +
              s"window [$lo, $hi] — decade-shifted or unit-shifted " +
              "regeneration? (TestdataContract.yearWindows)"))
          }
        }
      } catch { case e: Throwable =>
        Seq((t, c, s"$t.$c year-window check unreadable: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"))
      }
    }

  /** Print violations loudly (one line per drift, table+column named) and
    * return them. Non-fatal by design: readers that adapt (tsLike sets)
    * pass untouched, and a drifted run still produces its per-query
    * artifacts — now with the root cause named FIRST in the log. */
  def preflightLoud(spark: SparkSession, dir: String): Seq[(String, String, String)] = {
    val drift = preflight(spark, dir) ++ yearWindowViolations(spark, dir)
    if (drift.nonEmpty) {
      System.err.println(
        s"[preflight] TESTDATA CONTRACT DRIFT in $dir — " +
        s"${drift.size} violation(s); downstream failures likely stem " +
        "from these, fix the readers first:")
      drift.foreach { case (t, c, d) =>
        System.err.println(s"[preflight]   $t.$c: $d") }
    }
    drift
  }

  /** 8-hex schema hash of one table's raw parquet schema (names + types,
    * field order included — order changes are reader-visible). */
  private[graft] def schemaHash(schema: StructType): String = {
    val canon = schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}")
      .mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
  }

  /** Dataset identity as one JSON object: `{"table":{"schema":"8hex",
    * "rows":N}, ...}`, tables sorted. Row counts come from the parquet
    * footers (Spark's count-pushdown — no data scan), so this is cheap
    * enough to stamp into every bench/verify run. An unreadable table
    * records `"err"` instead of vanishing. */
  def fingerprintJson(spark: SparkSession, dir: String): String =
    tables.sorted.map { t =>
      val body =
        try {
          val df = rawTable(spark, dir, t)
          s"""{"schema":"${schemaHash(df.schema)}","rows":${df.count()}}"""
        } catch { case e: Throwable =>
          s"""{"err":"${e.getClass.getSimpleName}"}"""
        }
      s""""$t":$body"""
    }.mkString("{", ",", "}")
}
