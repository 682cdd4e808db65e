package graft.pipelines

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ai.{AiFunctions, DeterministicLocalBackend, DocAiProtocolTestServer}
import graft.engine.Catalog

/** Backend-swap e2e: the FULL interactive pipeline (stage → classify →
  * prompt-gen → extract → OCR → persist ×4 tables → History read, the
  * q_pipeline_interactive shape) runs against a real HTTP Doc-AI
  * protocol server selected purely via config
  * (`spark.graft.ai.backend` → [[graft.ai.HttpDocAiBackend]]), and
  * must produce byte-identical persisted state to the deterministic
  * local run — proving a user swaps model backends without touching
  * any operator (SURVEY §2.9; the reference's remote Cortex posture).
  */
class PipelineHttpBackendSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val docA = "Invoice INV-7 from Acme. The total is $250. Due on 2024-03-01."
  private val docB = "Contract between Foo and Bar. Effective date 2023-12-31. Term two years."

  private def stagedCat(): Catalog = {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe_http_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    cat.putFile("docs", "a.txt", docA.getBytes(StandardCharsets.UTF_8))
    cat.putFile("docs", "b.txt", docB.getBytes(StandardCharsets.UTF_8))
    cat
  }

  private def runInteractive(): Seq[String] = {
    val cat = stagedCat()
    Seq("a.txt", "b.txt").foreach(f => Pipelines.interactive(cat, "docs", f))
    val hist = HistoryQueries.documents(cat)
      .select("file_ref", "class_name", "fields_extracted", "has_ocr")
      .orderBy("file_ref").collect().map(_.toString).toSeq
    val extracted = cat.table("DOCUMENTS_PROCESSED")
      .select("file_url", "class_name", "extraction_result")
      .orderBy("file_url").collect().map(_.toString).toSeq
    hist ++ extracted
  }

  test("interactive pipeline through the HTTP backend == deterministic run") {
    // control run on the (default) deterministic backend
    val control = runInteractive()
    assert(control.nonEmpty)

    val (url, hits, stop) = DocAiProtocolTestServer.start()
    try {
      spark.conf.set("spark.graft.ai.backend", url)
      AiFunctions.configureFrom(spark)
      assert(AiFunctions.backend.isInstanceOf[graft.ai.HttpDocAiBackend])
      val viaHttp = runInteractive()
      assert(hits.get() > 0, "pipeline never reached the HTTP backend")
      assert(viaHttp == control,
        s"HTTP-backed pipeline diverged:\n$viaHttp\nvs\n$control")
    } finally {
      stop()
      spark.conf.set("spark.graft.ai.backend", "deterministic")
      AiFunctions.configureFrom(spark)
      assert(AiFunctions.backend eq DeterministicLocalBackend)
    }
  }

  test("one model call per document per function in every mode, same output") {
    // pins that Catalyst cannot copy a model call back into the plan:
    // the old batch-SQL UDF chain ran parse and extract 3x per document
    val prompts = Map("title" -> "What is the title?", "date" -> "What is the date?")
    val texts = Seq(docA, docB, "Report on Q3. The title is Growth. Dated 2024-10-01.",
      "Letter to Bob. Sent 2022-05-05. Regards, Ann.")
    val n = texts.size
    def staged(): Catalog = {
      val cat = new Catalog(spark,
        java.nio.file.Files.createTempDirectory("graft_pipe_calls_").toString)
      cat.ensureTables()
      texts.zipWithIndex.foreach { case (t, i) =>
        cat.putFile("docs", s"d$i.txt", t.getBytes(StandardCharsets.UTF_8)) }
      cat
    }
    val docsDir = java.nio.file.Files.createTempDirectory("graft_pipe_docs_").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$docsDir/documents.parquet")
    // sorted after collect: a Spark sort's range-sample job would run
    // the whole plan, model calls included, a second time
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val modes: Seq[(String, () => Seq[String])] = Seq(
      "batch_sql" -> (() => rows(Pipelines.batchSql(staged(), "docs", prompts))),
      "over_documents" -> (() => rows(Pipelines.batchSqlOverDocuments(spark, docsDir, prompts))),
      "stream" -> { () =>
        val cat = staged()
        val q = Pipelines.stream(cat, "docs", prompts, cat.root + "/cp")
        try q.processAllAvailable() finally q.stop()
        rows(cat.table("DOCUMENTS_PROCESSED")
          .select("file_url", "file_ref", "class_name", "extraction_result")) ++
          rows(cat.table("DOCUMENTS_EXTRACTED_FIELDS")
            .select("file_ref", "class_name", "field_name", "field_value"))
      },
      "interactive" -> { () =>
        val cat = staged()
        texts.indices.foreach(i => Pipelines.interactive(cat, "docs", s"d$i.txt"))
        rows(cat.table("DOCUMENTS_PROCESSED")
          .select("file_url", "class_name", "extraction_result"))
      })
    val control = modes.map { case (m, run) => m -> run() }.toMap
    assert(control.values.forall(_.nonEmpty))

    val server = DocAiProtocolTestServer.launch()
    try {
      spark.conf.set("spark.graft.ai.backend", server.url)
      AiFunctions.configureFrom(spark)
      val perDoc = modes.map { case (m, run) =>
        val before = server.counts
        val out = run()
        assert(out == control(m), s"$m through HTTP diverged:\n$out\nvs\n${control(m)}")
        m -> server.counts.map { case (k, v) => k -> (v - before(k)).toDouble / n }
      }.toMap
      def pin(mode: String, want: (String, Double)*): Unit = want.foreach { case (k, v) =>
        assert(perDoc(mode)(k) == v, s"$mode: $k calls per document ${perDoc(mode)(k)} != $v")
      }
      pin("batch_sql", "parse" -> 1, "extract" -> 1, "classify" -> 0)
      pin("over_documents", "parse" -> 0, "extract" -> 1, "classify" -> 0)
      pin("stream", "parse" -> 1, "classify" -> 1, "extract" -> 1)
      pin("interactive", "parse" -> 1, "classify" -> 1, "extract" -> 1)
    } finally {
      server.stop()
      spark.conf.set("spark.graft.ai.backend", "deterministic")
      AiFunctions.configureFrom(spark)
    }
  }

  test("configureFrom rejects a non-URL, non-deterministic value loudly") {
    spark.conf.set("spark.graft.ai.backend", "carrier-pigeon")
    try intercept[IllegalArgumentException](AiFunctions.configureFrom(spark))
    finally {
      spark.conf.set("spark.graft.ai.backend", "deterministic")
      AiFunctions.configureFrom(spark)
    }
  }
}
