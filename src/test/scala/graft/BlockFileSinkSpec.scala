package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 two-phase-commit block sink: happy-path publish + read-back
  * parity, and the abort contract — a mid-write task failure must leave
  * the target directory with NO partial output. */
class BlockFileSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fmt = classOf[graft.sources.BlockFileSink].getName

  private def rows(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i - 1).toLong,
      s"payload-$i".getBytes("UTF-8")))
      .toDF("block_id", "prev_block_id", "data")
  }

  test("commit publishes every file; read-back matches the layout contract") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bsink_").toString
    rows(17).repartition(4).write.format(fmt).mode("append").save(s"$tmp/out")
    val files = new java.io.File(s"$tmp/out").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // drop local-FS .crc sidecars
    assert(!files.exists(_.startsWith("_tmp")), "temp dir must be cleaned")
    assert(files.length == 17)
    assert(files.forall(_.matches("\\d+--?\\d+\\.blk")))
    // binaryFile read-back (the ChangeSetAssembler.readReplicas path)
    val back = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.blk").load(s"$tmp/out")
      .select(
        regexp_extract(col("path"), "([0-9]+)-(-?[0-9]+)\\.blk$", 1)
          .cast("long").as("block_id"),
        col("content"))
      .collect()
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8"))
      .toMap
    assert(back == (1 to 17).map(i => i.toLong -> s"payload-$i").toMap)
  }

  test("conflicting duplicate block names across tasks fail the commit loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bsink_").toString
    import spark.implicits._
    // same (block_id, prev) from two different tasks with different
    // payloads: last-write-wins would silently lose one — the commit
    // must refuse before publishing anything
    val a = Seq((7L, 0L, "payload-A".getBytes("UTF-8")))
      .toDF("block_id", "prev_block_id", "data")
    val b = Seq((7L, 0L, "payload-B".getBytes("UTF-8")))
      .toDF("block_id", "prev_block_id", "data")
    val err = intercept[Exception] {
      a.union(b).write.format(fmt).mode("append").save(s"$tmp/out")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(err).exists(_.contains("duplicate block files")),
      chain(err).mkString("\n"))
    val out = new java.io.File(s"$tmp/out")
    val published =
      if (!out.exists()) Array.empty[String]
      else out.listFiles().filterNot(_.getName == "_tmp")
        .map(_.getName).filterNot(_.startsWith("."))
    assert(published.isEmpty, published.mkString(","))
  }

  test("a mid-write task failure aborts the job and leaves no partial output") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bsink_").toString
    import spark.implicits._
    val poisoned = (1 to 16).map(i => (i.toLong, 0L)).toDF("block_id", "prev_block_id")
      .repartition(4)
      .select(col("block_id"), col("prev_block_id"),
        // blows up INSIDE the write task, after some rows succeeded
        udf((id: Long) =>
          if (id == 13L) throw new RuntimeException("injected task failure")
          else Array[Byte](id.toByte)).apply(col("block_id")).as("data"))
    val err = intercept[Exception] {
      poisoned.write.format(fmt).mode("append").save(s"$tmp/out")
    }
    assert(err.toString.contains("injected") ||
      Option(err.getCause).exists(_.toString.contains("injected")) ||
      err.getMessage.contains("aborted"))
    val out = new java.io.File(s"$tmp/out")
    val leftover =
      if (!out.exists()) Array.empty[String]
      else out.listFiles().filterNot(_.getName == "_tmp")
        .map(_.getName).filterNot(_.startsWith("."))
    assert(leftover.isEmpty,
      s"partial output escaped the failed job: ${leftover.mkString(",")}")
  }

  test("published files carry Hadoop's create mode and a verified .crc sidecar") {
    val tmp = Files.createTempDirectory("graft_bsink_").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val umaskKey = "fs.permissions.umask-mode"
    val saved = conf.get(umaskKey)
    // a umask unlike the process's, so the mode can only come from Hadoop
    conf.set(umaskKey, "027")
    val want = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf))
    try {
      rows(6).repartition(2).write.format(fmt).mode("append").save(s"$tmp/out")
      import spark.implicits._
      graft.changeset.ChangeSetAssembler.writeReplicas(
        Seq(("/data/r.parquet", 41L, -1L, "replica-41".getBytes("UTF-8")))
          .toDF("path", "blockId", "prevBlockId", "delta"), s"$tmp/replicas")
    } finally if (saved == null) conf.unset(umaskKey) else conf.set(umaskKey, saved)
    assert(want.toString == "rw-r-----")

    val blks = (new java.io.File(s"$tmp/out").listFiles() ++
      new java.io.File(s"$tmp/replicas/data_r.parquet").listFiles())
      .filter(_.getName.endsWith(".blk")).sortBy(_.getName)
    assert(blks.length == 7)
    val local = FileSystem.get(java.net.URI.create("file:///"), conf)
    blks.foreach { f =>
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
        == want.toString, f.getName)
      assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile, f.getName)
      val in = local.open(new Path(f.toURI))
      val got = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      assert(got.sameElements(Files.readAllBytes(f.toPath)) &&
        new String(got, "UTF-8").matches("(payload|replica)-\\d+"), f.getName)
    }
    // the sidecar is a real checksum of the bytes: flip one and the
    // checksummed read refuses
    val victim = blks.head.toPath
    val bytes = Files.readAllBytes(victim)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(victim, bytes)
    intercept[ChecksumException] {
      val in = local.open(new Path(victim.toUri))
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
  }
}
