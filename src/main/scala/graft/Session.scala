package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up every graft main shares: `local[cpus]` with one
  * shuffle partition per core, UTC session time, no UI, Spark scratch on
  * tmpfs when the host has one, the `SPARK_GRAFT_CONF` overrides, and WARN
  * logging. The core count is `SPARK_GRAFT_CPUS` when set, else every
  * core the JVM sees. */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratchDir())
    // extra session confs from `SPARK_GRAFT_CONF` ("k=v;k=v") — the A/B
    // instrument for configuration experiments: measure each config
    // change in isolation before adopting it as a code default
    sys.env.get("SPARK_GRAFT_CONF").foreach { s =>
      s.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** tmpfs-backed Spark scratch if the host provides one, else default.
    * SPARK_GRAFT_SCRATCH=disk forces the default-disk path — the honesty
    * escape hatch: tmpfs is the right call for measuring engine cost on a
    * host with throttled disk writes (13 MB/s measured, which inflates
    * every shuffle ~10x), but a recorded disk-scratch pass documents the
    * delta instead of hiding it. */
  def scratchDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (sys.env.get("SPARK_GRAFT_SCRATCH").contains("disk"))
      System.getProperty("java.io.tmpdir")
    else if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) {
      val d = shm.resolve("graft-spark-local")
      java.nio.file.Files.createDirectories(d)
      d.toString
    } else System.getProperty("java.io.tmpdir")
  }
}
