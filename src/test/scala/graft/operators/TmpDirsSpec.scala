package graft.operators

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** Guard-rails on the /tmp reaper — a deletion routine with a parse
  * heuristic deserves exact pins: live-pid dirs survive, dead-pid and
  * legacy (unparseable) dirs go, and the reapSamePid hook only ever
  * applies to THIS pid's dirs. One root per naming scheme, matching the
  * production call sites (pidSuffix for `<fp>_<pid>` index dirs, the
  * middle-token parser for `run_<pid>_<counter>` shard dirs). Then the
  * two helpers every gate goes through: `BuildOnce` (memo, rebuild,
  * fingerprint, failed builds) and `runDir` (per-name numbering and
  * ageing). */
class TmpDirsSpec extends SparkSpec {

  private val pid = ProcessHandle.current().pid()
  // a pid that cannot be alive: far beyond pid_max on any Linux
  private val deadPid = 4999999L

  private def mk(root: java.io.File, name: String): java.io.File = {
    val f = new java.io.File(root, name)
    assert(f.mkdir()); f
  }

  test("index-dir scheme: dead and legacy reaped, own and live kept") {
    val root = Files.createTempDirectory("graft_tmpdirs_ivf").toFile
    try {
      val mine = mk(root, s"0a1b2c3d4e5f6a7b_$pid")
      val dead = mk(root, s"0a1b2c3d4e5f6a7b_$deadPid")
      val legacy = mk(root, "_root_testdata_sf0.001")
      // fresh dirs: the age floor protects even dead/legacy ones
      TmpDirs.reap(root.getAbsolutePath, pid, TmpDirs.pidSuffix)
      assert(dead.exists(), "young dead-pid dir survives the age floor")
      assert(legacy.exists(), "young legacy dir survives the age floor")
      // same dirs seen past the floor (injected clock): reaped
      val later = () => System.currentTimeMillis() + TmpDirs.ageFloorMs + 1000
      TmpDirs.reap(root.getAbsolutePath, pid, TmpDirs.pidSuffix, nowMs = later)
      assert(mine.exists(), "own index dir must survive")
      assert(!dead.exists(), "dead-pid index dir must be reaped")
      assert(!legacy.exists(), "legacy unparseable dir must be reaped")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("run-dir scheme: reapSamePid applies only to own dirs, by predicate") {
    val root = Files.createTempDirectory("graft_tmpdirs_run").toFile
    try {
      def runPid(n: String): Option[Long] =
        n.stripPrefix("run_").split('_').headOption.flatMap(_.toLongOption)
      val mineOld = mk(root, s"run_${pid}_1")
      val mineNew = mk(root, s"run_${pid}_9")
      val deadRun = mk(root, s"run_${deadPid}_7")
      val later = () => System.currentTimeMillis() + TmpDirs.ageFloorMs + 1000

      TmpDirs.reap(root.getAbsolutePath, pid, runPid, nowMs = later)
      assert(mineOld.exists(), "own dirs survive without a reapSamePid opt-in")
      assert(mineNew.exists())
      assert(!deadRun.exists(), "dead-pid run dir must be reaped")

      // same-pid opt-ins are exempt from the age floor (real clock here)
      TmpDirs.reap(root.getAbsolutePath, pid, runPid,
        reapSamePid = n =>
          n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= 1))
      assert(!mineOld.exists(), "opted-in own dir must be reaped")
      assert(mineNew.exists(), "non-opted own dir must survive")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  /** A fresh `/tmp/<name>` namespace, deleted afterwards. */
  private def withName[A](f: String => A): A = {
    val name = s"graft_tmpdirsspec_${System.nanoTime()}"
    try f(name)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new File(s"/tmp/$name"))
  }

  private def writeTable(sfDir: String, bytes: String): Unit = {
    Files.write(new File(s"$sfDir/t.parquet").toPath, bytes.getBytes("UTF-8"))
    ()
  }

  /** A BuildOnce over table `t` that counts its builds and leaves a
    * `build_<n>` file in the dir, then throws on the builds in `failOn`. */
  private def counting(name: String, failOn: Set[Int] = Set.empty) = {
    var builds = 0
    val idx = TmpDirs.BuildOnce(name, "t") { (_, _, dir) =>
      builds += 1
      new File(dir).mkdirs()
      Files.write(new File(dir, s"build_$builds").toPath, Array[Byte](1))
      if (failOn(builds)) throw new IllegalStateException(s"build $builds fails")
    }
    (idx, () => builds)
  }

  test("BuildOnce: a second dir call serves the built dir without building again") {
    withName { name =>
      withTempDir("graft-sf") { sfDir =>
        writeTable(sfDir, "v1")
        val (idx, builds) = counting(name)
        val first = idx.dir(spark, sfDir)
        assert(first ===
          s"/tmp/$name/${TmpDirs.dataFingerprint(s"$sfDir/t.parquet")}_$pid")
        assert(idx.dir(spark, sfDir) === first)
        assert(builds() === 1)
      }
    }
  }

  test("BuildOnce: rebuild builds again into an emptied dir") {
    withName { name =>
      withTempDir("graft-sf") { sfDir =>
        writeTable(sfDir, "v1")
        val (idx, builds) = counting(name)
        val dir = idx.dir(spark, sfDir)
        assert(new File(dir, "build_1").exists())
        assert(idx.rebuild(spark, sfDir) === dir)
        assert(builds() === 2)
        assert(!new File(dir, "build_1").exists(), "rebuild must start from an empty dir")
        assert(new File(dir, "build_2").exists())
      }
    }
  }

  test("BuildOnce: rewriting the table file gives a new fingerprint, dir and build") {
    withName { name =>
      withTempDir("graft-sf") { sfDir =>
        writeTable(sfDir, "v1")
        val (idx, builds) = counting(name)
        val before = idx.dir(spark, sfDir)
        writeTable(sfDir, "v2, regenerated")
        val after = idx.dir(spark, sfDir)
        assert(after !== before)
        assert(builds() === 2)
        assert(new File(after, "build_2").exists())
      }
    }
  }

  test("BuildOnce: a build that throws memoizes nothing; the next dir call builds afresh") {
    withName { name =>
      withTempDir("graft-sf") { sfDir =>
        writeTable(sfDir, "v1")
        val (idx, builds) = counting(name, failOn = Set(1))
        intercept[IllegalStateException](idx.dir(spark, sfDir))
        val dir = idx.dir(spark, sfDir)
        assert(builds() === 2)
        assert(!new File(dir, "build_1").exists(), "the failed build's files must not be served")
        assert(new File(dir, "build_2").exists())
      }
    }
  }

  test("runDir: numbered per name; the 4th run of a name reaps only that name's 1st") {
    withName { a =>
      withName { b =>
        def run(name: String): File = {
          val f = new File(TmpDirs.runDir(name)); assert(f.mkdirs()); f
        }
        val a1 = run(a)
        assert(a1.getPath === s"/tmp/$a/run_${pid}_1")
        val bs = (1 to 3).map(_ => run(b))
        assert(bs.map(_.getName) === (1 to 3).map(n => s"run_${pid}_$n"))
        // three runs of another name must not age out a's first run
        val a2 = run(a)
        assert(a2.getName === s"run_${pid}_2")
        assert(a1.exists(), "another name's runs aged out this name's run")
        val a3 = run(a)
        assert(a1.exists())
        val a4 = run(a)
        assert(a4.getName === s"run_${pid}_4")
        assert(!a1.exists(), "the 4th run must reap the 1st")
        assert(Seq(a2, a3, a4).forall(_.exists()), "two prior runs stay readable")
        assert(bs.forall(_.exists()))
      }
    }
  }
}
