package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of every main: a local-mode session with the
 * `Bench` conf, so the frozen bench methodology and every other main run
 * under the same knobs. Test sessions build their own (PlanSpec's exchange
 * assertions depend on the test conf). */
object Sessions {

  /** @param cores local task slots; also the shuffle partition count
   * @param maxTaskAttempts task-attempt budget, the `F` of `local[N,F]`;
   *   1 is plain `local[N]` (no retry) */
  def local(cores: Int, appName: String, maxTaskAttempts: Int = 1): SparkSession = {
    val master = if (maxTaskAttempts == 1) s"local[$cores]" else s"local[$cores,$maxTaskAttempts]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // local-scale knobs (cluster defaults are right at real data sizes):
      // our rows are small but CPU-heavy, so 64MB-target AQE coalescing and
      // 128MB scan splits would leave most cores idle
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // task-memory pages default to 64MB long[] — humongous for G1 regions,
      // measured as continuous concurrent GC + fragmentation across reps
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
