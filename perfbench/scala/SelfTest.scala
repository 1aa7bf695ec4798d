package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays
import scala.collection.mutable
import scala.util.Try
import scala.util.chaining._

/** Self-test of the benchmark's own code: the generator is a pure function
  * of the seed, and the checker rejects a tampered end state. */
object SelfTest {

  def run(a: Args): Int = {
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: String): Unit = {
      System.err.println(s"[selftest] ${if (cond) "ok  " else "FAIL"} $what")
      if (!cond) fails += what
    }
    def sensorCsv(seed: Long, k: Int): String = {
      val f = new Gen.SensorFiles(seed, 10, _ => 500, 40, 0.25, 0.03)
      f.csv(f.rows(k))
    }
    expect((0 to 3).forall(k => sensorCsv(1, k) == sensorCsv(1, k)),
      "same seed gives byte-identical sensor files")
    expect((0 to 3).forall(k => sensorCsv(1, k) != sensorCsv(2, k)),
      "another seed gives other sensor files")
    def delta(seed: Long) = new Gen.CorpusDocs(seed, 2000, 400).delta(1)
    expect(delta(1) == delta(1), "same seed gives the same corpus delta")
    expect(delta(1).map(_.text) != delta(2).map(_.text),
      "another seed gives another corpus delta")

    val root = Files.createDirectories(Path.of(a.work))
    val spark = Main.session(root, 2)
    try {
      def parquet(seed: Long, name: String): Array[Byte] = {
        val out = root.resolve(name).toString
        CorpusWorkload.writeDocs(spark, delta(seed), out)
        Files.readAllBytes(CorpusWorkload.part(out))
      }
      expect(Arrays.equals(parquet(1, "d1a"), parquet(1, "d1b")),
        "same seed gives a byte-identical delta parquet")
      expect(!Arrays.equals(parquet(1, "d1c"), parquet(2, "d2")),
        "another seed gives another delta parquet")

      // a real end state through the program, then tampered copies of it
      val wl = new SensorWorkload(spark, root.resolve("ws"), 7L,
        new Tracer(false).tap(_.attach(spark)), stats = false)
      wl.setup()
      wl.prepare(1)
      wl.outcome(1, Try(wl.call(1)))
      expect(wl.check().isEmpty, "checker accepts the untouched end state")
      val table = "bench__iot__air_quality"
      def exec(sql: String): Unit = {
        val c = java.sql.DriverManager.getConnection(wl.url)
        try c.createStatement().executeUpdate(sql) finally c.close()
      }
      exec(s"""UPDATE "$table" SET "PM25" = "PM25" + 1 WHERE "Sensor_id" = 'S-003'""")
      expect(wl.check().exists(_.contains("checksum")),
        "checker rejects a sink with changed values")
      exec(s"""DELETE FROM "$table" WHERE "Sensor_id" = 'S-007' AND """ +
        s""""DateTime" = (SELECT MIN("DateTime") FROM "$table" WHERE "Sensor_id" = 'S-007')""")
      expect(wl.check().exists(_.contains("distinct-PK rows")),
        "checker rejects a sink with one row deleted")
      wl.teardown()
    } finally {
      spark.stop()
      Main.deleteTree(root)
    }
    System.err.println(s"[selftest] ${fails.size} failed")
    if (fails.isEmpty) 0 else 1
  }
}
