package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.SparkSpec

/** The persisted near-dup index's build/serve split: the landed artifact
  * must be lossless (serving off it ≡ the fused single-pass pipeline),
  * corpus-text-free (the whole point — corpus text never moves again
  * after the build), and the verdicts must respect the split and the
  * threshold. Value-exactness vs DuckDB is the registry gate's job; this
  * spec pins the storage/plan facts the oracle can't see. */
class NeardupPersistSpec extends SparkSpec {

  test("serve output: split respected, threshold respected, best-match unique") {
    val s = spark
    val out = graft.SparkEntry.queries("q_neardup_persist")(s, sf).localCheckpoint()
    assert(out.count() > 0, "gate must flag at least one incoming near-dup at sf0.001")
    // every flagged doc is an incoming doc; every match is a corpus doc
    assert(out.filter(col("doc_id") % 10 =!= 7).count() === 0)
    assert(out.filter(col("dup_of") % 10 === 7).count() === 0)
    // one verdict per incoming doc, est within [0.5, 1]
    assert(out.select("doc_id").distinct().count() === out.count())
    assert(out.filter(col("est_jaccard") < 0.5 || col("est_jaccard") > 1.0).count() === 0)
  }

  test("the landed index carries signatures, never text; index-only verification") {
    val s = spark
    val dir = Dedup.neardupIndex.dir(s, sf)
    val idx = s.read.parquet(s"$dir/bands")
    assert(!idx.columns.contains("text"),
      "the index must store signatures only — corpus text never lands in it")
    assert(idx.columns.toSet === (Set("band_id", "bhash", "doc_id") ++
      (0 until 8).map(i => s"mh$i")))
    // and the serve plan reads corpus TEXT only for the incoming batch:
    // every file scan over the documents table must be the incoming side
    // (there is exactly one — the index supplies everything else). AQE
    // nests scans inside QueryStageExec wrappers `collect` won't descend
    // into — walk them explicitly (the IvfPersistPruningSpec helper).
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other =>
          other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
      }
    val serve = graft.SparkEntry.queries("q_neardup_persist")(s, sf)
    val docScans = allScans(serve.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")))
    assert(docScans.size === 1,
      s"expected exactly ONE documents scan (the incoming batch), got ${docScans.size}")
  }

  test("simhash twin: split/radius respected; index is signatures only") {
    val s = spark
    val out = graft.SparkEntry.queries("q_simhash_persist")(s, sf).localCheckpoint()
    assert(out.count() > 0)
    assert(out.filter(col("doc_id") % 10 =!= 7).count() === 0)
    assert(out.filter(col("dup_of") % 10 === 7).count() === 0)
    assert(out.filter(col("hamming") > 3 || col("hamming") < 0).count() === 0)
    assert(out.select("doc_id").distinct().count() === out.count())
    val idx = s.read.parquet(s"${Dedup.simhashIndex.dir(s, sf)}/bands")
    assert(idx.columns.toSet === Set("band_id", "band", "doc_id", "simhash"),
      "8 bytes of signature + band rows — never text")
  }
}
