package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.store.Layouts

/** Range clustering = data skipping: the same selective filter over the
  * same rows must read a fraction of the bytes when the layout is
  * clustered on the filter column — and return identical results.
  */
class LayoutsSpec extends SparkSpec {

  test("clustered layout skips row groups: fewer bytes, same rows") {
    val events = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id", "event_type", "value")
    val dir = tmpDir("layouts")
    val clustered = s"$dir/clustered"
    val shuffled = s"$dir/shuffled"
    Layouts.clusteredWrite(events, clustered, Seq("user_id"), numFiles = 16)
    // Same content, random layout: shuffle on a hash so every file spans
    // the full user_id range (worst-case min/max stats).
    events.repartition(16, hash(col("event_id")))
      .write.mode("overwrite").parquet(shuffled)

    def rowsAndBytes(path: String): (Set[Long], Long) = {
      val (rows, bytes) = Layouts.measuredInputBytes(spark) {
        spark.read.parquet(path)
          .where(col("user_id") === 7L)
          .select("event_id").collect().map(_.getLong(0)).toSet
      }
      (rows, bytes)
    }
    val (rowsC, bytesC) = rowsAndBytes(clustered)
    val (rowsS, bytesS) = rowsAndBytes(shuffled)

    assert(rowsC == rowsS && rowsC.nonEmpty, "layouts must agree on content")
    assert(bytesC * 2 < bytesS,
      s"clustered scan read $bytesC bytes, shuffled $bytesS — no skipping?")
  }

  test("z-order serves BOTH dimensions; lexicographic only its leading one") {
    import spark.implicits._
    // 400k rows, two independent-ish uniform dims in [0, 10000).
    val df = spark.range(400000L).select(
      $"id",
      floor(rand(1) * 10000).as("a"),
      floor(rand(2) * 10000).as("b"))
      .localCheckpoint(true)
    val dir = tmpDir("zorder")
    val lex = s"$dir/lex"
    val zed = s"$dir/z"
    Layouts.clusteredWrite(df, lex, Seq("a", "b"), numFiles = 64)
    Layouts.zorderWrite(df, zed, Seq("a", "b"), numFiles = 64)

    def scan(path: String, colName: String): (Set[Long], Long) = {
      val (rows, bytes) = Layouts.measuredInputBytes(spark) {
        spark.read.parquet(path)
          .where(col(colName).between(4000, 4099))
          .select("id").as[Long].collect().toSet
      }
      (rows, bytes)
    }
    val (rowsLexA, bytesLexA) = scan(lex, "a")
    val (rowsZA, bytesZA) = scan(zed, "a")
    val (rowsLexB, bytesLexB) = scan(lex, "b")
    val (rowsZB, bytesZB) = scan(zed, "b")
    assert(rowsLexA == rowsZA && rowsLexB == rowsZB && rowsZB.nonEmpty,
      "layouts must agree on content")
    info(s"a-predicate bytes: lex=$bytesLexA z=$bytesZA; " +
      s"b-predicate bytes: lex=$bytesLexB z=$bytesZB")
    // The point of z: the SECOND dimension skips too. Lexicographic
    // reads ~everything for a b-only filter; z reads a fraction.
    assert(bytesZB * 2 < bytesLexB,
      s"z-order did not skip on the second column: z=$bytesZB lex=$bytesLexB")
    // And z still skips meaningfully on the first column (vs the
    // b-filter full scan as the no-skipping yardstick).
    assert(bytesZA * 2 < bytesLexB,
      s"z-order lost first-column skipping entirely: $bytesZA vs $bytesLexB")
  }
}
