package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, StructType}

/** One engine query: a Spark DataFrame program plus (when SQL-expressible)
  * an equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. `oracle == None` → driver records a rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Cross-engine (Spark vs DuckDB) bit-reproducibility helpers.
  *
  * The oracle hash-compares values, so aggregate outputs must be
  * bit-identical across engines. Double sums are order-dependent, and
  * engines disagree on decimal *downscale* rounding (Spark HALF_UP,
  * DuckDB half-even/truncating), so the rules are:
  *
  *  1. quantize each input double at a scale that covers its true decimal
  *     precision (money/qty → DECIMAL(18,4); rates in [0,10) → (5,4)):
  *     both engines round the same binary double to the same decimal;
  *  2. keep all arithmetic in exact decimal; only ever downscale when the
  *     dropped digits are provably zero (e.g. a 2dp×2dp product has ≤4
  *     decimals, so (30,12)→(24,6) is exact) — never a lossy downscale;
  *  3. sum in decimal (exact, order-independent), keeping the scaled
  *     magnitude under 2^53 so the final CAST(... AS DOUBLE) is a single
  *     correctly-rounded conversion in both engines (verified identical);
  *  4. counts → BIGINT on both sides (DuckDB sum(int) would give HUGEINT
  *     → pandas float);
  *  5. timestamps in output → ISO strings (pandas datetime64[us] vs [ns]
  *     dtype skew between the two load paths);
  *  6. untouched double columns pass through bit-identical — safe;
  *  7. NEVER `\s` in an oracle-paired regex: Java's \s includes \x0B
  *     (vertical tab), RE2's (DuckDB) does not — a doc containing \x0B
  *     would fingerprint/tokenize differently per engine. Write the
  *     class explicitly as `[ \t\n\x0B\f\r]` on BOTH sides (every
  *     normalization/tokenization site does; reference-parity byte
  *     workloads that never face DuckDB are exempt).
  */
object Sql {
  val D18_4 = DataTypes.createDecimalType(18, 4)
  val D5_4 = DataTypes.createDecimalType(5, 4)
  val D22_4 = DataTypes.createDecimalType(22, 4)
  val D24_6 = DataTypes.createDecimalType(24, 6)
  val D18_2 = DataTypes.createDecimalType(18, 2)

  /** money/qty double (≤4 dp) as exact decimal */
  def dec(c: Column): Column = c.cast(D18_4)
  /** small rate double in [0,10), ≤4 dp (discount/tax) as exact decimal */
  def rate(c: Column): Column = c.cast(D5_4)
  /** final aggregate → double (single correctly-rounded conversion) */
  def out(c: Column): Column = c.cast("double")
  val oneRate: Column = lit(1).cast(D5_4)

  /** price*(1-disc): (18,4)*(5,4)=(24,8), ≤4 true decimals → exact (22,4) */
  def discPrice(price: Column, disc: Column): Column =
    (dec(price) * (oneRate - rate(disc))).cast(D22_4)

  /** price*(1-disc)*(1+tax): ≤6 true decimals → exact (24,6) */
  def charge(price: Column, disc: Column, tax: Column): Column =
    (dec(price) * (oneRate - rate(disc)) * (oneRate + rate(tax))).cast(D24_6)

  /** timestamp → ISO string, matching DuckDB strftime '%Y-%m-%d %H:%M:%S' */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Normalize an events frame's `ts` to session TimestampType, whatever
    * physical encoding the parquet file carried. Real corpora arrive in
    * several layouts, so dispatch on the LOADED schema instead of
    * hardcoding one:
    *  - TIMESTAMP(NANOS) read as raw LONG nanos (under the session's
    *    `nanosAsLong` conf, set in [[table]]) → rebuild via
    *    `timestamp_micros(ts div 1000)`;
    *  - TIMESTAMP(MICROS) with isAdjustedToUTC=false read natively as
    *    TIMESTAMP_NTZ → cast (exact under the UTC session timezone);
    *  - already TIMESTAMP → pass through.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(_: org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Measured-rowcount broadcast gate — ONE implementation of the
    * pattern three call sites grew independently (q131's two per-run
    * counts, Decontam's sidecar-frozen count, ad-hoc AQE reliance):
    * hint `broadcast` only when the frame is PROVABLY executor-safe.
    *
    * Why not always hint: an unconditional hint on a frame that
    * scales with the corpus overrides AQE and OOMs at 100× (round-9
    * finding). Why not never hint: leaving it to AQE costs a measured
    * 1.9× at bench scale — the initial SMJ plan shuffle-writes the
    * big side and adds stage barriers before runtime stats arrive
    * (round-10 finding). So: decide on a REAL row count.
    *
    *  - `knownCount` supplied (a frozen-layout sidecar count, the
    *    Decontam form — zero jobs): gate on it directly; the frame is
    *    returned as-is (re-scannable at-rest data needs no pinning).
    *  - no count: [[graft.ops.Checkpoints.local]] + count — the count
    *    reads the materialized blocks, the downstream join reuses
    *    them, nothing recomputes; the enclosing scope frees them.
    */
  def broadcastIfSmall(
      df: DataFrame, budgetRows: Long, knownCount: Option[Long] = None): DataFrame =
    knownCount match {
      case Some(n) => if (n <= budgetRows) broadcast(df) else df
      case None =>
        val m = graft.ops.Checkpoints.local(df)
        if (m.count() <= budgetRows) broadcast(m) else m
    }

  /** Read `dir/name.parquet`, inferring its schema once per session.
    *
    * Parquet schema inference (`mergeSchemasInParallel`) is a Spark job,
    * and the input tables do not change during a run, so a per-session
    * memo keeps the inferred `StructType` and later calls read with
    * `spark.read.schema(memo)`, which starts no job. An entry is keyed on
    * the path and is valid only while the path's
    * [[graft.ops.Smb.sourceFingerprint]] (every leaf file's length and
    * mtime) is the one it was inferred under, and while `nanosAsLong`
    * (which `events` turns on) is what it was at inference or the entry
    * was inferred with it off (see [[readMemo]]): a table rewritten in
    * place is inferred again; one read before `events` is not. A failed
    * read (a missing path) caches nothing and throws what an uncached
    * read throws.
    *
    * Each call returns a NEW relation, never a cached `DataFrame`: a
    * query that reads one table twice needs fresh expression ids on each
    * side of a self-join. The memo holds sessions weakly, so a stopped
    * or dropped session (specs make several, `newSession()` included)
    * takes its entries with it; pool threads (q240) may call this
    * concurrently.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      // A TIMESTAMP(NANOS) column would make Spark's parquet schema
      // converter throw before we can even look at the schema, so the
      // conf must be set BEFORE the read; it is a no-op for the other
      // encodings. It DELIBERATELY stays set for the whole session: it
      // is consulted at plan-execution time (not here), so a
      // save/restore would break this very scan when it finally runs.
      spark.conf.set(NanosAsLong, "true")
      normalizeTs(readMemo(spark, path))
    } else {
      readMemo(spark, path)
    }
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** session → path → (fingerprint, [[NanosAsLong]] at inference, schema) */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[
      String, (String, String, StructType)]]())

  private def readMemo(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    val nanos = spark.conf.get(NanosAsLong, "false")
    val fp = graft.ops.Smb.sourceFingerprint(spark, path)
    // Inference with nanosAsLong off throws on a TIMESTAMP(NANOS)
    // column, so a schema it returned has none and holds with the conf
    // on too: reading events turns the conf on for the session, and the
    // tables read before it are not inferred again.
    Option(memo.get(path)) match {
      case Some((`fp`, at, schema)) if at == "false" || at == nanos =>
        spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        memo.put(path, (fp, nanos, df.schema))
        df
    }
  }
}
