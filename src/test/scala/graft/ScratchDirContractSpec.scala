package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-safety contract for the streaming-gate scratch and result
  * areas (the round-7 verdict's one systemic deployment flaw): with
  * `spark.graft.scratchDir` and `spark.graft.gateDir` pointing at a
  * shared filesystem — here the object-store stand-in `mocks3://`
  * (rename = copy+delete, the S3A semantics class) — a full gate
  * (q63: stage → stream → GateOut) must run end-to-end with NO
  * driver-local path in either its staging or its result read-back,
  * and must still clean its scratch scope on exit. A green run proves
  * a real cluster can point both confs at DFS/S3 and every gate works
  * unchanged. */
class ScratchDirContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a streaming gate runs with scratch AND gate roots on the object store") {
    val local = java.nio.file.Files.createTempDirectory("graft_gatefs_")
    val scratchBase = s"mocks3://$local/scratch"
    val gateBase = s"mocks3://$local/gate"
    val fs = new Path(scratchBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(scratchBase))
    fs.mkdirs(new Path(gateBase))
    val renames0 = MockS3FileSystem.renames.get()
    GraftSession.withConf(spark,
        graft.streaming.StreamScratch.ScratchKey -> scratchBase,
        graft.streaming.GateOut.DirKey -> gateBase) {
      val dir = "/root/testdata/sf0.001"
      val res = Registry.queries("q63_stream_dedup")(spark, dir)

      // the result READ-BACK is rooted on the object store — the gate's
      // return path is executor→FS→executor, with no driver-local dir
      assert(res.inputFiles.nonEmpty &&
        res.inputFiles.forall(_.startsWith("mocks3://")),
        s"gate result not on the object store: ${res.inputFiles.take(2).toSeq}")

      // and it is CORRECT: streaming dedup == batch distinct, same as
      // the q63 oracle, now computed across an object-store round-trip
      val got = res.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = Tables.load(spark, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"), sum(col("user_id")).as("checksum"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, "object-store gate diverged from batch distinct")

      // the scratch SCOPE (staged input + checkpoint + sink) was created
      // under the configured root and deleted on exit
      assert(fs.listStatus(new Path(scratchBase)).isEmpty,
        "scratch scope leaked under the configured root")

      // streaming commit protocols DID exercise the non-atomic
      // copy+delete rename, so the run really took the object-store path
      assert(MockS3FileSystem.renames.get() > renames0,
        "no rename hit the object-store path — contract not exercised")
    }
  }
}
