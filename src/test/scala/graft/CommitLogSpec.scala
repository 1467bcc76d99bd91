package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.operators.{Catalog, CommitLog, TableFormat}

class CommitLogSpec extends SparkTestBase {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_clog").toString

  test("CAS race: one winner per version, winner's bytes on disk, listers never see staging") {
    val root = freshRoot()
    val conf = new Configuration()
    val log = new CommitLog(root, "_log", conf)
    val fs = log.dir.getFileSystem(conf)
    val nVersions = 50
    val racers = 4
    val winners = new ConcurrentHashMap[Long, java.util.List[Int]]()
    val done = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(racers + 1)
    try {
      val start = new CountDownLatch(1)
      def bytes(v: Long, t: Int) = s"""{"version":$v,"writer":$t}""".getBytes(UTF_8)
      val commits = (0 until racers).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            (1L to nVersions.toLong).foreach { v =>
              if (log.tryCommit(v, bytes(v, t)))
                winners.computeIfAbsent(v,
                  _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Int]()))
                  .add(t)
            }
          }
        })
      }
      // the lister: every listing must succeed and show only commits
      val lister = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          var listings = 0
          while (!done.get()) {
            val vs = log.versions
            assert(vs == vs.sorted && vs.distinct == vs, s"bad listing $vs")
            if (fs.exists(log.dir)) {
              val names = fs.listStatus(log.dir).map(_.getPath.getName).toSeq
              assert(names.forall(_.matches("v\\d{20}\\.json")),
                s"non-commit entries in the listed log dir: $names")
            }
            listings += 1
          }
          listings
        }
      })
      start.countDown()
      commits.foreach(_.get(60, TimeUnit.SECONDS))
      done.set(true)
      assert(lister.get(60, TimeUnit.SECONDS) > 0)
      assert(log.versions == (1L to nVersions.toLong))
      (1L to nVersions.toLong).foreach { v =>
        val w = winners.get(v)
        assert(w != null && w.size == 1, s"v$v winners: $w")
        assert(log.read(v) == new String(bytes(v, w.get(0)), UTF_8), s"v$v bytes")
      }
    } finally pool.shutdownNow()
  }

  test("expireSnapshots sweeps aged staged commits, keeps fresh ones, reports data only") {
    import spark.implicits._
    val root = freshRoot()
    val f = s"$root/d"
    Seq(1L -> 1.0, 2L -> 2.0).toDF("k", "v").repartition(1).write.parquet(f)
    TableFormat.commitFiles(spark, root, "k", TableFormat.listParquet(spark, f), 256, 3)
    val hourAgo = System.currentTimeMillis() - 2 * 3600000L
    def plant(path: String, mtime: Long): java.io.File = {
      val file = new java.io.File(path)
      file.getParentFile.mkdirs()
      java.nio.file.Files.write(file.toPath, "x".getBytes(UTF_8))
      assert(file.setLastModified(mtime))
      file
    }
    // a committer that died between staging and rename, long ago and just now
    val aged = plant(s"$root/_log.tmp/.v00000000000000000002.json.dead.tmp", hourAgo)
    val fresh = plant(s"$root/_log.tmp/.v00000000000000000002.json.live.tmp",
      System.currentTimeMillis())
    val orphan = plant(s"$root/orphan/part-0.parquet", hourAgo)
    val (expired, removed) = TableFormat.expireSnapshots(spark, root,
      keepLast = 1, dataDirs = Seq(root), graceMs = 3600000L)
    assert(expired.isEmpty)
    assert(removed.map(p => new Path(p).toUri.getPath) == Seq(orphan.getPath), removed)
    assert(!aged.exists(), "aged staged commit survived the sweep")
    assert(fresh.exists(), "a fresh staged commit (in-flight) was swept")
    assert(TableFormat.versions(spark, root) == Seq(1L))
  }

  test("a table and a catalog in the existing on-disk format resolve, time-travel and take new commits") {
    import spark.implicits._
    val root = freshRoot()
    val croot = freshRoot()
    def dataFile(name: String, ks: Seq[Long]): String = {
      val tmp = s"$root/w_$name"
      ks.map(k => (k, k * 1.5)).toDF("k", "v").repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$root/data/$name.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.getPath
    }
    dataFile("d1", 1L to 5L)
    val d2 = dataFile("d2", 6L to 8L)
    def fill(t: String) = t.replace("$ROOT", root)
    val d1Stat = """{"file":"file:$ROOT/data/d1.parquet","min_key":1,"max_key":5,""" +
      """"n_rows":5,"seq":1,"bloom":"AAAAACQAAAAAIAAIAAACIAkAAAAAAIAEQAKAEAAAAAA=",""" +
      """"kmv":[185267549479667,216372973445305,220033096457548,251625952230350,""" +
      """260359986236252],"nulls":{"k":0},"bytes":753,"rid":0}"""
    def head(v: Long, nextRowId: Long) =
      s"""{"version":$v,"key_col":"k","num_bits":256,"num_hashes":3,""" +
        s""""schema":"k BIGINT,v DOUBLE","op":"append","props":""" +
        s"""{"lineage.next_row_id":"$nextRowId"},"files":["""
    // version 1 of each log, byte for byte as the format has always
    // written them: `v<20 digits>.json` under `_log` / `_catlog`
    def put(dir: String, name: String, text: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), fill(text).getBytes(UTF_8))
    }
    put(s"$root/_log", "v00000000000000000001.json", head(1, 5) + d1Stat + "]}")
    put(s"$croot/_catlog", "v00000000000000000001.json",
      """{"version":1,"tables":{"t":{"root":"$ROOT","version":1}}}""")

    def keys(s: TableFormat.Snapshot) =
      TableFormat.read(spark, s).select("k").as[Long].collect().sorted.toSeq
    assert(TableFormat.versions(spark, root) == Seq(1L))
    assert(keys(TableFormat.snapshot(spark, root)) == (1L to 5L))
    val (cv1, m1) = Catalog.resolve(spark, croot)
    assert(cv1 == 1L && m1 == Map("t" -> Catalog.TableRef(root, 1L)))

    val s2 = TableFormat.appendFiles(spark, root, Seq(d2))
    val (cv2, _) = Catalog.publish(spark, croot, Map("t" -> s2))
    assert(s2.version == 2L && cv2 == 2L)
    def bytesOf(path: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), UTF_8)
    val d2Stat = """{"file":"file:$ROOT/data/d2.parquet","min_key":6,"max_key":8,""" +
      """"n_rows":3,"seq":2,"bloom":"AAAAAAAAAAEEAAiAAAAAACAAgAAAAggAQAAAAAAAAAA=",""" +
      """"kmv":[24709099707016,157319893602026,222036799912856],"nulls":{"k":0},""" +
      """"bytes":734,"rid":5}"""
    assert(bytesOf(s"$root/_log/v00000000000000000002.json") ==
      fill(head(2, 8) + d1Stat + "," + d2Stat + "]}"))
    assert(bytesOf(s"$croot/_catlog/v00000000000000000002.json") ==
      fill("""{"version":2,"tables":{"t":{"root":"$ROOT","version":2}}}"""))
    assert(new java.io.File(s"$root/_log").list().filterNot(_.endsWith(".crc")).sorted.toSeq ==
      Seq("v00000000000000000001.json", "v00000000000000000002.json"))

    assert(keys(TableFormat.snapshot(spark, root)) == (1L to 8L))
    assert(keys(TableFormat.snapshot(spark, root, Some(1L))) == (1L to 5L))
    assert(keys(Catalog.snapshotOf(spark, croot, "t", Some(1L))) == (1L to 5L))
    assert(keys(Catalog.snapshotOf(spark, croot, "t")) == (1L to 8L))
  }
}
