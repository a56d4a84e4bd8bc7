package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** Pins the round-8 advice fix: the persisted IVF index is keyed on a
  * CONTENT fingerprint of the dataset (path + file mtimes/lengths), not
  * a sanitized path — so regenerating a dataset in place within one JVM
  * yields a NEW index dir (no stale postings served), and distinct
  * datasets can never alias to one dir. */
class IvfFingerprintSpec extends SparkSpec {

  test("regenerating the dataset in place changes the index dir") {
    val work = Files.createTempDirectory("graft_fp").toFile.getAbsolutePath
    try {
      // a private copy of the embeddings table we are allowed to touch
      val src = Paths.get(s"$sf/embeddings.parquet")
      val dst = Paths.get(s"$work/embeddings.parquet")
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        Files.list(src).forEach(p =>
          Files.copy(p, dst.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
      } else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)

      val fp1 = TmpDirs.dataFingerprint(dst.toString)
      // distinct dataset paths get distinct prints even with IDENTICAL
      // contents and copied attributes (the sanitized-path collision
      // class): the full path is part of the fingerprint
      assert(fp1 != TmpDirs.dataFingerprint(s"$sf/embeddings.parquet"))
      // "regenerate": rewrite the file(s) so mtime (and possibly length) move
      val leaf =
        if (Files.isDirectory(dst)) Files.list(dst).findFirst().get() else dst
      Files.setLastModifiedTime(leaf,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(leaf).toMillis + 60000))
      val fp2 = TmpDirs.dataFingerprint(dst.toString)
      assert(fp1 != fp2, "fingerprint ignored an in-place regeneration")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }
  }
}
