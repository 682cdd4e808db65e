package graft.pipelines

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ai.{AiFunctions, DeterministicLocalBackend, DocAiBackend, DocAiProtocolTestServer,
  HttpDocAiBackend, InFlight}

/** Deterministic answers with a chosen width, scripted slow or failing
  * documents, and every call's thread recorded: a document containing
  * "SLOW<k>" parses k x 10 ms late, "PARSEFAIL"/"CLASSFAIL"/"FAIL"
  * throw in parse/classify/extract, and "EMPTY" answers no field.
  */
final class ScriptedBackend(width: Int, inner: DocAiBackend = DeterministicLocalBackend)
    extends DocAiBackend {
  private def seen(): Unit = ScriptedBackend.threads.add(Thread.currentThread().getName)
  override def concurrency: Int = width
  override def answer(text: String, question: String): String = inner.answer(text, question)
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] = {
    seen()
    if (text.contains("FAIL")) throw new IllegalStateException("model refused")
    if (text.contains("EMPTY")) Map.empty else inner.answerAll(text, prompts)
  }
  override def classify(text: String): String = {
    seen()
    if (text.contains("CLASSFAIL")) throw new IllegalStateException("classifier down")
    inner.classify(text)
  }
  override def parse(content: Array[Byte]): String = {
    seen()
    val text = inner.parse(content)
    "SLOW(\\d+)".r.findFirstMatchIn(text).foreach(m => Thread.sleep(m.group(1).toLong * 10))
    if (text.contains("PARSEFAIL")) throw new IllegalStateException("unreadable file")
    text
  }
  override def complete(model: String, prompt: String): String = inner.complete(model, prompt)
}

object ScriptedBackend {
  /** Names of the threads that made calls (one JVM in local mode). */
  val threads = new ConcurrentLinkedQueue[String]()
}

/** The bulk pipelines' per-document AI step ([[Pipelines.perDocument]])
  * and the batch modes' row presence.
  */
class PerDocumentSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val prompts = Map("title" -> "What is the title?", "date" -> "What is the date?")

  /** `texts` as one partition of (id, content) rows. */
  private def docs(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i, t.getBytes(StandardCharsets.UTF_8)) }
      .toDF("id", "content").coalesce(1)

  private def withBackend[A](b: DocAiBackend)(body: => A): A = {
    AiFunctions.setBackend(b)
    try body finally AiFunctions.setBackend(DeterministicLocalBackend)
  }

  test("rows come back in input order when later documents finish first") {
    val texts = (0 until 12).map(i => s"Doc $i. SLOW${12 - i} title here.")
    val got = withBackend(new ScriptedBackend(4)) {
      Pipelines.perDocument(docs(texts), "content", prompts, forPersist = true)
        .collect().toSeq
    }
    assert(got.map(_.getInt(0)) == (0 until 12))
    val d = DeterministicLocalBackend
    assert(got.map(r => (r.getMap[String, String](1).toMap, r.getString(2))) ==
      texts.map(t => (d.answerAll(t, prompts), d.classify(t))))
  }

  test("no more than `concurrency` calls ever reach the server at once") {
    val server = DocAiProtocolTestServer.launch(delayMs = 30)
    try {
      val texts = (0 until 12).map(i => s"Invoice $i. The title is T$i.")
      val got = withBackend(new ScriptedBackend(3, new HttpDocAiBackend(server.url))) {
        Pipelines.perDocument(docs(texts), "content", prompts).collect().toSeq
      }
      assert(got.map(_.getInt(0)) == (0 until 12))
      assert(server.maxInFlight <= 3, s"${server.maxInFlight} calls in flight, width 3")
      assert(server.maxInFlight >= 2, "one task's documents never overlapped")
      assert(server.counts("parse") == 12 && server.counts("extract") == 12)
    } finally server.stop()
  }

  test("parse or classify failures fail the task; extract failures are error rows") {
    for (bad <- Seq("PARSEFAIL", "CLASSFAIL")) {
      val e = intercept[SparkException](withBackend(new ScriptedBackend(3)) {
        Pipelines.perDocument(docs(Seq("ok one.", s"doc $bad.", "ok two.")),
          "content", prompts, forPersist = true).collect()
      })
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalStateException]), s"$bad: $e")
    }
    val rows = withBackend(new ScriptedBackend(3)) {
      Pipelines.perDocument(docs(Seq("fine doc.", "please FAIL.")), "content", prompts,
        forPersist = true).orderBy("id").collect()
    }
    assert(rows(0).getMap[String, String](1).keySet == prompts.keySet)
    assert(rows(1).getMap[String, String](1).toMap == Map("error" -> "model refused"))
    assert(rows(1).getString(3) == """{"error": "model refused"}""")
  }

  test("at concurrency 1 every call runs on the task thread") {
    ScriptedBackend.threads.clear()
    withBackend(new ScriptedBackend(1)) {
      Pipelines.perDocument(docs(Seq("a doc.", "b doc.", "c doc.")), "content", prompts,
        forPersist = true).collect()
    }
    val names = ScriptedBackend.threads.asScala.toSeq
    assert(names.size == 9)
    assert(!names.exists(_.startsWith(InFlight.threadPrefix)), names.toString)
    ScriptedBackend.threads.clear()
    withBackend(new ScriptedBackend(2)) {
      Pipelines.perDocument(docs(Seq("a doc.", "b doc.")), "content", prompts).collect()
    }
    assert(ScriptedBackend.threads.asScala.forall(_.startsWith(InFlight.threadPrefix)))
  }

  test("batch-SQL row presence: null or empty map absent, error map a row of nulls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_perdoc_").toString
    Seq((1L, "The title is Alpha."), (2L, null), (3L, "EMPTY answers."), (4L, "FAIL here."))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = withBackend(new ScriptedBackend(2)) {
      Pipelines.batchSqlOverDocuments(spark, dir, prompts).orderBy("doc_id").collect()
    }
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(rows(0).getAs[String]("title") ==
      DeterministicLocalBackend.answer("The title is Alpha.", prompts("title")))
    assert(rows(1).getAs[String]("title") == null && rows(1).getAs[String]("date") == null)
    assert(Pipelines.batchSqlOverDocuments(spark, dir, prompts).columns.toSeq ==
      Seq("doc_id", "date", "title"))
  }

  test("batch-SQL is one job with no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_perdoc_plan_").toString
    Seq((1L, "The title is Alpha."), (2L, "Dated 2024-01-02."))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val plan = Pipelines.batchSqlOverDocuments(spark, dir, prompts)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert("MapPartitions".r.findAllIn(plan).size == 1, plan)
    assert(Pipelines.batchSqlOverDocuments(spark, dir, prompts).filter(col("title").isNotNull)
      .count() == 2)
  }
}
