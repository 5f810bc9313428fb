package graft

import java.nio.file.{Files, Path}

/** `Cli.run` end to end on a tiny wide CSV: one variable carries the
  * -9999 sentinel, and one timestamp appears twice (keep-first drops
  * the second row).
  */
class CliSpec extends SparkTestBase {

  test("Cli.run writes the wide parquet and the three tables, meta lists -9999") {
    val dir = Files.createTempDirectory("graft-cli")
    val csv = dir.resolve("station.csv")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = (0 until 192).map { i =>
      val ts = t0.plusMinutes(15L * i).toString.replace('T', ' ') + ":00"
      val temp = if (i == 40) -9999.0 else 10.0 + math.sin(i / 8.0)
      f"$ts,$temp%.4f,${7.0 + 0.1 * math.cos(i / 5.0)}%.4f"
    }
    val dup = rows(100).split(",")(0) + ",99.0000,9.0000"
    val lines = Seq("timestamp,temp,ph") ++ rows.take(101) ++ Seq(dup) ++ rows.drop(101)
    Files.write(csv, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val out = dir.resolve("out")

    Cli.run(spark, Array("--csv", csv.toString, "--station", "S1",
      "--out", out.toString, "--vars", "temp,ph"))

    def exists(rel: String): Path = {
      val p = out.resolve(rel)
      assert(Files.exists(p), s"missing output $p")
      p
    }
    val wide = spark.read.parquet(exists("processed/qc_timeseries.parquet").toString)
    assert(wide.count() == 192, "one wide row per distinct timestamp")
    exists("tables/events_all.csv")
    exists("tables/seasonal_all.csv")
    val meta = spark.read.option("header", "true")
      .csv(exists("tables/meta.csv").toString)
      .select("variable", "sentinel_used").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta.keySet == Set("temp", "ph"), s"meta rows: $meta")
    assert(meta("temp").contains("-9999"), s"temp sentinel_used: ${meta("temp")}")
    assert(!meta("ph").contains("-9999"), s"ph sentinel_used: ${meta("ph")}")
  }
}
