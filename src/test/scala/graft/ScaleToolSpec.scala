package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.tools.Scale
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `Scale` surface at its smallest size on the shared session: the
  * last line it prints is one JSON object with the surface's metric name
  * and per-leg keys, and its staging dir is gone afterwards.
  */
class ScaleToolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private val usage = Set("sec", "cpu_s", "gc_s", "jit_s", "codegen")

  private def stagingDirs: Set[String] = {
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_scale_")).toSet
    finally tmp.close()
  }

  /** The surface's last stdout line, parsed. */
  private def run(args: String*): JsonNode = {
    val before = stagingDirs
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Scale.run(spark, args))
    assert((stagingDirs -- before).isEmpty, "a staging dir outlived its surface")
    new ObjectMapper().readTree(out.toString("UTF-8").linesIterator.toSeq.last)
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet

  /** `group` holds exactly `legs`, each with the usage keys and `extra`. */
  private def assertLegs(group: JsonNode, legs: Set[String], extra: String*): Unit = {
    assert(keys(group) == legs)
    legs.foreach(l => assert(keys(group.get(l)) == usage ++ extra, l))
  }

  test("dedup: dedup_scale with one leg per operator") {
    val j = run("dedup", sf, "2")
    assert(j.get("metric").asText == "dedup_scale")
    assert(keys(j) == Set("metric", "factor", "n_docs", "n_vecs", "distinct_content",
      "ops", "buckets"))
    assertLegs(j.get("ops"), Set("simhash", "minhash", "ngram", "embed", "embed12",
      "semdedup", "substring_rewrite", "tfidf", "inverted_index", "token_budget",
      "heavy_hitters"), "rows")
  }

  test("ann: ann_scale with build, train, brute-force and probe legs") {
    val j = run("ann", sf, "2")
    assert(j.get("metric").asText == "ann_scale")
    assert(keys(j) == Set("metric", "n_vecs", "factor", "n_queries", "n_cells",
      "n_cells_capped", "trainer", "build_sec", "pq_train_sec", "cell_max", "cell_p50",
      "brute_sec", "probes", "legs"))
    assertLegs(j.get("probes"), Set("ivf_np1", "ivf_np2", "ivf_np4", "ivfpq_np4"), "recall")
    assertLegs(j.get("legs"), Set("build", "pq_train", "brute"))
  }

  test("stream: stream_scale with one leg per streaming surface") {
    val j = run("stream", sf, "2")
    assert(j.get("metric").asText == "stream_scale")
    assert(keys(j) == Set("metric", "events_n", "docs_n", "n_batches", "surfaces"))
    assertLegs(j.get("surfaces"), Set("windowed_agg", "dedup", "sessionize",
      "user_state", "quality_gate", "pack", "contamination", "neardup_gate",
      "semdedup_gate", "drift_sink", "ann_serve", "hybrid_serve"),
      "rows_per_s", "batches", "trigger_ms")
    // a noop surface counts its data triggers: each of the 2 staged files
    // is one, and a no-data trigger under host load is not counted
    for (s <- Seq("windowed_agg", "dedup", "sessionize", "user_state", "quality_gate",
        "pack", "contamination", "neardup_gate", "semdedup_gate"))
      assert(j.get("surfaces").get(s).get("batches").asLong == 2, s)
  }

  test("source: source_scale with one leg per reader") {
    val j = run("source", sf, "2", "1")
    assert(j.get("metric").asText == "source_scale")
    assert(keys(j) == Set("metric", "orders_n", "files", "reps", "surfaces"))
    assertLegs(j.get("surfaces"), Set("csv", "token_stream", "token_stream_1file",
      "choice_stream", "choice_stream_1file", "choice_stream_64", "fixed_width_fn",
      "fixed_width_fn_1file", "fixed_width_v2", "fixed_width_v2_1file"), "rows_per_s")
  }

  test("jdbc: jdbc_scale with seed, upsert, cdc and re-apply legs") {
    val j = run("jdbc", sf)
    assert(j.get("metric").asText == "jdbc_scale")
    assert(keys(j) == Set("metric", "n_seed", "seed_s", "seed_rows_per_s", "upsert_rows",
      "upsert_s", "upsert_rows_per_s", "cdc_rows", "cdc_s", "cdc_rows_per_s", "reapply_s",
      "final_rows", "legs"))
    assertLegs(j.get("legs"), Set("seed", "upsert", "cdc", "reapply"))
  }

  test("an unknown surface is rejected with the list of surfaces") {
    val e = intercept[IllegalArgumentException](Scale.run(spark, Seq("nope")))
    assert(e.getMessage.contains("ann, dedup, jdbc, source, stream"))
  }
}
