package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every entry point (tests, Bench,
  * Verify, driver) must share.
  *
  * Scale notes: shuffle partitions default to the core count (local
  * mode); on a real cluster this would be sized to data volume /
  * target partition size and AQE coalesces the rest. AQE is on so
  * skewed joins and over-partitioned shuffles re-plan at runtime.
  */
object GraftSession {
  /** Apply graft defaults to an existing builder. */
  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Coalesce post-shuffle partitions by SIZE, not core count: the
      // default (parallelismFirst=true) pins even KB-scale shuffles at
      // ~`cpus` tasks, which at 30+ metadata-scale stages per engine
      // pass is most of a Flow run's fixed cost — and at 100 TB,
      // bytes-per-partition (not cores) is how shuffles must be sized
      // anyway (Spark's own docs recommend disabling parallelismFirst
      // in production). The advisory size is tuned to the bench scale:
      // 1 MB collapses the engine's metadata shuffles (KBs) to one
      // task while keeping compute-dense analytical shuffles (PPJoin
      // verify, window sorts — MBs of longs with high per-byte cost)
      // spread; measured: q35 3.5 s at 1 MB vs 8 s at 16 MB, q65
      // 7.7 s vs 9.3 s with parallelismFirst. At cluster scale raise
      // it toward 64 MB with the data volume.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      // The driver-generated events table stores ts as parquet
      // TIMESTAMP(NANOS), which Spark has no native type for; read it
      // as a long (see Tables.events for the normalization).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // file:// through Hadoop's checksummed local FileSystem, minus
      // its forked `chmod` per created file and directory (see
      // ForkFreeRawLocalFileSystem)
      .config("spark.hadoop.fs.file.impl",
        classOf[GraftLocalFileSystem].getName)

  def local(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
}

/** Hadoop's checksummed `file://` FileSystem (`LocalFileSystem`) over
  * [[ForkFreeRawLocalFileSystem]]: same files, same `.crc` sidecars,
  * same permission bits. */
final class GraftLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's raw local FileSystem with an in-process `setPermission`.
  * Without the native hadoop library the stock one forks a `chmod`
  * process for every file and directory it creates — hundreds per
  * engine pass, each a fork of the whole driver JVM's address space.
  * `java.nio` sets the same owner/group/other bits without a process
  * (the sticky bit, which nothing here sets, is not carried). */
class ForkFreeRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    import java.nio.file.attribute.PosixFilePermission
    val bits = permission.toShort.toInt
    // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. the
    // mode bits from 0400 down to 0001
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) perms.add(perm)
    }
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }
}
