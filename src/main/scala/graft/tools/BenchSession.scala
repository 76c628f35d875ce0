package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * The bench session config, held once for the timing tools: `local[cpus]`,
 * one shuffle partition per core, AQE on, UTC, 8 MiB scan splits,
 * shuffle files under `Scaling.localDir`, UI off. Callers add what only
 * they need (an app name, a warehouse dir) before `getOrCreate()`.
 * `graft.Bench` keeps its own inline copy of the same settings.
 */
object BenchSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: measured best here (a 2-wave
      // layout added ~20% wall clock at local[32])
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Split the scan fine enough that every core gets several task
      // waves: the default 128 MB packs a ~0.9 GB input into ~8 scan
      // partitions, capping parallelism at 8 regardless of cores
      // (observed: local[32] ran at ~580% CPU). At 100 TB the file count
      // dwarfs the cores and the default is fine; this knob matters
      // exactly when input-bytes/cores < maxPartitionBytes.
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      // Shuffle spill dir on tmpfs when available: this box funnels every
      // thread's shuffle files through ONE virtual disk, which a real
      // cluster does not (each executor has its own local disks) — the
      // single-disk artifact otherwise dominates the shuffle-heavy suite
      // at high thread counts and understates cluster scaling.
      .config("spark.local.dir", graft.Scaling.localDir)
      .config("spark.ui.enabled", "false")
}
