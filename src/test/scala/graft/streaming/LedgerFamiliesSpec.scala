package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The additive-delta ledger protocol's sign guard, table-driven over
  * the families whose own suites do not exercise it (vocab and the
  * datasheet have theirs in CorpusStateStreamSpec and
  * DatasheetStreamSpec). Every family appends through
  * `CorpusStateStream.appendLedgerDeltas`, so each must refuse the same
  * three misuses the same way. */
class LedgerFamiliesSpec extends SparkSpec {

  private case class Fam(
      name: String,
      ledger: String,
      input: () => DataFrame,
      update: String => (DataFrame, Long) => Unit,
      forget: String => (DataFrame, Long) => Unit)

  private def docs = Tables.documents(spark, sf0001)
    .filter(col("doc_id") < 40)
    .select(col("doc_id"), col("text"), col("source"))

  private def vecs = Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("source"))
    .join(Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")),
      col("doc_id") === col("vec_id"))
    .filter(col("vec_id") < 40)
    .select(col("vec_id"), col("embedding"), col("source"))

  private def fams = Seq(
    Fam("bigrams", "bigrams_ledger", () => docs,
      CorpusStateStream.updateBigrams, CorpusStateStream.forgetBigrams),
    Fam("shingle-df", "shdf_ledger", () => docs,
      CorpusStateStream.updateShingleDf, CorpusStateStream.forgetShingleDf),
    Fam("boilerplate", "bp_ledger", () => docs,
      BoilerplateStateStream.update, BoilerplateStateStream.forget),
    Fam("centroid", "cent_ledger", () => vecs,
      CentroidStateStream.update, CentroidStateStream.forget))

  test("sign guard per additive family: a lost-ledger arrival id refuses " +
      "a forget, an intent-marked id refuses an arrival, a negative id " +
      "writes nothing") {
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft-ledgerfams").toString
    fams.foreach { f =>
      val in = f.input().localCheckpoint()
      // (a) the arrival's deltas committed, its ledger row lost, the id
      // resubmitted as a forget: the deltas carry no intent mark
      val s1 = s"$root/${f.name}-lost"
      f.update(s1)(in, 0L)
      val lp = new org.apache.hadoop.fs.Path(s"$s1/${f.ledger}")
      assert(lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true), s"${f.name}: no ledger to drop")
      val e1 = intercept[IllegalArgumentException](f.forget(s1)(in, 0L))
      assert(e1.getMessage.contains("no forget-intent mark"),
        s"${f.name}: ${e1.getMessage}")
      // (b) only an intent mark exists (a forget crashed before its
      // deltas): the id is claimed, so an arrival under it is refused
      val s2 = s"$root/${f.name}-marked"
      Seq(5L).toDF("batch_id").write.parquet(s"$s2/${f.ledger}_fmarks")
      val e2 = intercept[IllegalArgumentException](f.update(s2)(in, 5L))
      assert(e2.getMessage.contains("claimed by a FORGET"),
        s"${f.name}: ${e2.getMessage}")
      // (c) a negative id is reserved for folded snapshot rows: refused
      // before anything, the format marker included, is written
      val s3 = s"$root/${f.name}-negative"
      val e3 = intercept[IllegalArgumentException](f.update(s3)(in, -1L))
      assert(e3.getMessage.contains("negative ids are reserved"),
        s"${f.name}: ${e3.getMessage}")
      assert(!new java.io.File(s3).exists(),
        s"${f.name}: a refused negative id left state behind")
    }
  }
}
