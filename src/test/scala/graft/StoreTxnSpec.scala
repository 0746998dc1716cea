package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{StoreLog, StoreTxn, Tables, TsStore}

/** The shared commit scaffold ([[StoreTxn]]): a txn that keeps losing
  * its CAS gives up after the one retry cap, deletes the files it
  * adopted and leaves the manifest untouched; every retry runs against
  * the fresh tip.
  */
class StoreTxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_txn").toString
    TsStore.write(Tables.events(spark, TestSpark.sf001)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      dir, tsCol = "ts", uidCols = Seq("event_type"))
    StoreLog.ensure(dir)
    dir
  }

  test("a txn that always loses its CAS aborts after the cap and cleans up") {
    val dir = freshStore()
    val before = StoreLog.latest(dir).get
    // stage a copy of a live file the way a writer stages its output
    val staging = TsStore.txnDir(dir)
    val rel = "event_type=view/part-txn-0001.zstd.parquet"
    Files.createDirectories(Paths.get(staging, "event_type=view"))
    Files.copy(Paths.get(dir, before.files.find(_.startsWith("event_type=view/")).get),
      Paths.get(staging, rel))
    var calls = 0
    val e = intercept[StoreLog.CommitConflict] {
      StoreTxn.staged(dir, staging) { txn =>
        assert(txn.moved === Seq(rel))
        assert(Files.exists(Paths.get(dir, rel)), "the txn adopted the file")
        txn.commit(before.version) { v =>
          calls += 1
          // a CAS expecting the version BEFORE the tip always loses
          StoreLog.commit(dir, v - 1, Seq.empty, before.files ++ txn.moved)
        }
      }
    }
    assert(calls === StoreTxn.MaxRetries + 1)
    assert(e.getMessage.contains(s"gave up after ${StoreTxn.MaxRetries + 1} " +
      "commit attempts"), e.getMessage)
    assert(!Files.exists(Paths.get(dir, rel)), "the abort must delete the adopted file")
    assert(!Files.exists(Paths.get(staging)), "the staging dir must be gone")
    assert(StoreLog.latestVersion(dir).get === before.version)
    assert(StoreLog.listDataFiles(dir).toSet === before.files.toSet)
  }

  test("each retry runs against the fresh tip version") {
    val dir = freshStore()
    val v0 = StoreLog.latestVersion(dir).get
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val done = StoreTxn.empty(dir).commit(v0) { v =>
      seen += v
      val cur = StoreLog.read(dir, v)
      // a rival writer lands first on the first three attempts
      if (seen.size <= 3)
        StoreLog.commit(dir, v, Seq.empty, cur.files, parent = Some(cur),
          setProps = Map("rival" -> seen.size.toString))
      StoreLog.commit(dir, v, Seq.empty, cur.files, parent = Some(cur),
        setProps = Map("mine" -> "1"))
    }
    assert(seen.toSeq === Seq(v0, v0 + 1, v0 + 2, v0 + 3))
    assert(done === v0 + 4)
    val props = StoreLog.propsAt(dir, done)
    assert(props.get("rival").contains("3") && props.get("mine").contains("1"))
    assert(TsStore.load(spark, dir).count() ===
      Tables.events(spark, TestSpark.sf001).count())
  }
}
