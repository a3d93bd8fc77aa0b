package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (`TESTDATA.md`,
  * `FIXTURES.md` §A). One parquet file per table under the given
  * scale-factor directory.
  *
  * Scale notes (100 TB design stance): `region`/`nation` are fixed-size
  * dimensions and `supplier`/`part`/`customer` grow slowly — all are
  * broadcast candidates. `orders`/`lineitem`/`events`/`documents`/
  * `embeddings` are fact tables that shuffle on their join keys; every
  * query in this library keeps filters/projections directly on the scan
  * so Catalyst pushes them into the parquet reader (verify with
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")

  /** `events.ts` arrives in one of two physical shapes depending on the
    * driver's generator vintage: parquet TIMESTAMP(MICROS) — read
    * directly as TIMESTAMP_NTZ under `inferTimestampNTZ` — or the older
    * TIMESTAMP(NANOS), which Spark cannot represent (max micros) and
    * which `spark.sql.legacy.parquet.nanosAsLong=true` surfaces as
    * INT64 nanos, truncated here to naive microseconds (SURVEY §7
    * risk 2 — queries additionally date_trunc before emitting
    * ts-derived values). Dispatch on the LOADED dtype so both vintages
    * produce the identical TIMESTAMP_NTZ column. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division in exact long arithmetic: `ts div 1000`
        // truncates toward zero, which rounds PRE-EPOCH nanos the wrong
        // way (-1500 ns -> -1 µs instead of -2 µs) and diverges from an
        // oracle that floors; (ts - pmod(ts,1000)) is exactly divisible
        // so div is then a true floor, with no double-precision loss at
        // 10^18-nano magnitudes
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "CAST(timestamp_micros((ts - pmod(ts, 1000)) div 1000) AS TIMESTAMP_NTZ)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df
      case _ =>
        df.withColumn("ts", df("ts").cast(
          org.apache.spark.sql.types.TimestampNTZType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

/** Session factory shared by Bench/Verify/tests so every entry point gets
  * identical semantics-relevant config:
  *   - UTC session timezone (oracle parity, SURVEY §7 risk 2)
  *   - TIMESTAMP_NTZ inference for the naive (no-timezone) parquet
  *     timestamps the driver generates — matches DuckDB's naive
  *     timestamps bit-for-bit in the t2 hash compare
  *   - AQE on (runtime coalesce / skew-join / broadcast switch)
  *   - shuffle partitions sized to the local core count, not 200
  *   - a codegen class cache of [[CodegenCacheEntries]] entries, not
  *     Spark's 100, so each generated class is compiled once per JVM
  */
object GraftSession {
  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Spark keys the
    * cache by (context class loader, source), and local-mode tasks run
    * under the executor's loader, so a class planned on the driver is
    * cached twice. Compiles in one run with the cache never evicting
    * (4 cores): perfbench `store_cdc` 357, `etl_journey` 378, a full
    * `graft.Verify` pass at sf0.01 4,995. So both perfbench workloads
    * fit with room to spare, and a Verify pass, which at 4096 compiles
    * 5,036 classes, recompiles 41 evicted ones (0.8%). With 100 entries
    * a `store_cdc` cycle's load phase compiled 297 classes (3.1 s of
    * Janino time summed over threads) against 152 (1.75 s) here, and the
    * cycle's first serve pass recompiled the 39 classes the warm-up
    * serve had compiled. A static conf: `CodeGenerator` reads it once,
    * from the active session, when it first compiles, so it is set here
    * and cannot be changed on a running session. */
  val CodegenCacheEntries = 4096

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
}
