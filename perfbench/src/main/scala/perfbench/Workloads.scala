package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.converter.{SpanConverter, Spans}
import graft.core.text.{Dialects, NexXml, XmlValidator}
import graft.queries.CurationPipeline
import graft.sources.Sinks

/** What a workload's set-up and runs work with: the session, the seed and
  * the private directory of this set-up. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path) {
  def sub(name: String): String = dir.resolve(name).toString
  def untraced: Tracer = new Tracer(spark.sparkContext, enabled = false)
}

/** A run's output, checked after the run's timer stops. `mark` is the
  * ledger index of the run's first operation. */
trait Checked { def mark: Int }

/** One benchmark workload. The harness calls `setup` once per set-up and
  * `reference` once, then `run` (timed) and `check` (untimed) per run. */
trait Workload {
  /** Input items one run handles. */
  def items: Long
  /** Untimed runs before the timed ones, the reference run included: JIT
    * compilation of the workload's code paths mostly settles within them.
    * Run times still fall slowly after: on curation_batch by about a tenth
    * by the ninth run, as the generated code of its plans keeps compiling. */
  def warmRuns: Int = 5
  /** Generate the inputs and build what runs read. */
  def setup(ctx: Ctx): Unit
  /** The warm-up run: record the reference results later runs must
    * reproduce. Returns the problems its closed-form checks found. */
  def reference(ctx: Ctx): Seq[String]
  def run(ctx: Ctx, led: Ledger, tr: Tracer): Checked
  /** Output checks of one run: (ledger index of the operation, problem). */
  def check(ctx: Ctx, out: Checked): Seq[(Int, String)]
  /** Input sizes and planted-defect counts. */
  def facts: Map[String, Double]
  /** Bytes the last run wrote per input byte it ingested, if it writes. */
  def writtenPerInput: Option[Double] = None
  /** Per-layer figures only this workload has, for the traced output. */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "trace_convert" => new TraceConvert(nTraces = 10000)
    case "curation_batch" => new CurationBatch(nDocs = 10000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def writeParquet[T <: Product: TypeTag](spark: SparkSession, rows: Seq[T], path: String): Unit =
    spark.createDataFrame(rows).coalesce(1).write.parquet(path)

  def digest(rows: Array[Row]): String = Stats.digest(rows.map(_.toString))
}

/** Span JSONL → converter → dialect re-encode → argument normalization →
  * JSONL sink. */
final class TraceConvert(nTraces: Int) extends Workload {
  private val LinesPerFile = 2000
  private var traces: Gen.Traces = _
  private var in: String = _
  private var inBytes = 0L
  private var refDigest = ""
  private var runs = 0
  private var lastWritten = 0L
  private var lastCounts = (0L, 0L)

  private final class Out(val mark: Int, val dir: String, val counts: Option[(Long, Long)]) extends Checked

  def items: Long = traces.spans

  def setup(ctx: Ctx): Unit = {
    traces = Gen.traces(ctx.seed, nTraces)
    // span dumps arrive as many export files, not one
    val input = ctx.dir.resolve("input")
    traces.lines.grouped(LinesPerFile).zipWithIndex.foreach { case (lines, i) =>
      Files.writeLines(input.resolve(f"spans-$i%03d.jsonl"), lines)
    }
    in = input.toString
    inBytes = Files.bytes(input)
  }

  def reference(ctx: Ctx): Seq[String] = {
    val led = new Ledger
    val out = run(ctx, led, ctx.untraced).asInstanceOf[Out]
    if (out.counts.isDefined) refDigest = digestOf(ctx.spark, out.dir)._2
    led.errors ++ check(ctx, out).map(_._2)
  }

  def run(ctx: Ctx, led: Ledger, tr: Tracer): Checked = {
    val spark = ctx.spark
    runs += 1
    val outDir = ctx.sub(s"out/run-$runs")
    val mark = led.mark
    val counts = led.op("convert") {
      val spans = tr.call("converter", "Spans.readJsonlNormalized")(
        Spans.readJsonlNormalized(spark, in))
      val (records, obs) = tr.call("converter", "SpanConverter.convertObserved")(
        SpanConverter.convertObserved(spark, spans))
      val dialect = tr.call("converter", "SpanConverter.convertRecordsDialect")(
        SpanConverter.convertRecordsDialect(records, "qwen"))
      val converted = tr.call("converter", "SpanConverter.normalizeArgumentsJob")(
        SpanConverter.normalizeArgumentsJob(dialect).toDF())
      // the converter's plan is lazy: the sink's write runs it, so the
      // conversion's tasks count under the sink call
      tr.call("sources", "Sinks.appendJsonl")(Sinks.appendJsonl(converted, outDir))
      val m = Await.result(obs.future, 60.seconds)
      (m.getAs[Long]("n_records"), m.getAs[Long]("n_invalid"))
    }
    new Out(mark, outDir, counts)
  }

  /** (rows, order-independent digest) of a JSONL output directory. */
  private def digestOf(spark: SparkSession, dir: String): (Long, String) = {
    val h = xxhash64(col("value"))
    val r = spark.read.text(dir)
      .agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    (r.getLong(0), s"${r.get(1)}/${r.get(2)}")
  }

  def check(ctx: Ctx, o: Checked): Seq[(Int, String)] = {
    val out = o.asInstanceOf[Out]
    val problems = mutable.ArrayBuffer.empty[String]
    out.counts.foreach { case (n, invalid) =>
      lastCounts = (n, invalid)
      if (n != traces.records) problems += s"records_out $n, expected ${traces.records}"
      if (invalid != traces.invalid) problems += s"invalid $invalid, expected ${traces.invalid}"
      val (rows, dig) = digestOf(ctx.spark, out.dir)
      if (rows != traces.records) problems += s"sink rows $rows, expected ${traces.records}"
      if (refDigest.nonEmpty && dig != refDigest) problems += s"sink digest $dig, reference $refDigest"
    }
    lastWritten = Files.bytes(Files.path(out.dir))
    Files.delete(Files.path(out.dir))
    problems.toSeq.map(out.mark -> _)
  }

  def facts: Map[String, Double] = Map(
    "traces" -> nTraces.toDouble, "spans" -> traces.spans.toDouble,
    "malformed_lines" -> traces.malformed.toDouble, "input_bytes" -> inBytes.toDouble,
    "records_expected" -> traces.records.toDouble, "invalid_planted" -> traces.invalid.toDouble)

  override def writtenPerInput: Option[Double] = Some(lastWritten.toDouble / inBytes)

  /** The converter's observed output counts, and core.text's cost per
    * message: a driver-side loop over this workload's own assistant
    * messages, median of five passes. */
  override def layerExtras: Map[String, Double] = {
    val msgs = traces.assistant.take(4000)
    val calls = msgs.flatMap(m => NexXml.extractToolCalls(m, () => "call_0")._2.map(_.toJson))
    def perMessageUs(body: => Unit): Double = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3 / msgs.size
    })
    Map(
      "core.text.validate_us" -> perMessageUs(msgs.foreach(XmlValidator.validate)),
      "core.text.dialect_us" -> perMessageUs(msgs.foreach(m =>
        try Dialects.convertMessage(m, "qwen") catch { case NonFatal(_) => m })),
      "core.text.extract_us" -> perMessageUs(msgs.foreach(NexXml.extractToolCalls(_, () => "call_0"))),
      "core.text.normalize_us" -> perMessageUs(calls.foreach(NexXml.normalizeArguments)),
      "converter.records_out" -> lastCounts._1.toDouble,
      "converter.valid_frac" -> (1.0 - lastCounts._2.toDouble / math.max(1L, lastCounts._1)))
  }
}

/** The curation composite's stage accounting (the recompute spelling). */
final class CurationBatch(nDocs: Int) extends Workload {
  private var corpus: Gen.Corpus = _
  private var dir: String = _
  private var refDigest = ""

  private final class Out(val mark: Int, val rows: Option[Array[Row]]) extends Checked

  def items: Long = corpus.docs.size

  def setup(ctx: Ctx): Unit = {
    corpus = Gen.corpus(ctx.seed, nDocs)
    dir = ctx.sub("corpus")
    Workload.writeParquet(ctx.spark, corpus.docs, s"$dir/documents.parquet")
  }

  def reference(ctx: Ctx): Seq[String] = {
    val led = new Ledger
    val out = run(ctx, led, ctx.untraced).asInstanceOf[Out]
    refDigest = out.rows.map(Workload.digest).getOrElse("")
    led.errors ++ out.rows.toSeq.flatMap(closedForm)
  }

  def run(ctx: Ctx, led: Ledger, tr: Tracer): Checked = {
    val mark = led.mark
    new Out(mark, led.op("accounting")(tr.call("queries", "CurationPipeline.accounting")(
      CurationPipeline.accounting(ctx.spark, dir).collect())))
  }

  /** Counts the generator fixes: the arriving slice, and the ingest gate
    * dropping exactly the planted copies of sealed documents. */
  private def closedForm(rows: Array[Row]): Seq[String] = {
    val byStage = rows.map(r => r.getAs[String]("stage") -> r).toMap
    val arriving = corpus.docs.filter(_.doc_id % 10 != 7)
    val arrivingTok = arriving.map(_.text.split(" ").length.toLong).sum
    def n(stage: String, field: String): Long =
      byStage.get(stage).map(_.getAs[Long](field)).getOrElse(-1L)
    Seq(
      (n("arriving", "n_docs"), arriving.size.toLong, "arriving docs"),
      (n("arriving", "n_tokens"), arrivingTok, "arriving tokens"),
      (n("admitted", "n_docs"), (arriving.size - corpus.sealedCopies).toLong, "admitted docs"))
      .collect { case (got, want, what) if got != want => s"$what $got, expected $want" }
  }

  def check(ctx: Ctx, o: Checked): Seq[(Int, String)] = {
    val out = o.asInstanceOf[Out]
    out.rows.toSeq.flatMap { rows =>
      val d = Workload.digest(rows)
      closedForm(rows) ++ (if (d != refDigest) Seq(s"accounting digest $d, reference $refDigest") else Nil)
    }.map(out.mark -> _)
  }

  def facts: Map[String, Double] = Map(
    "documents" -> corpus.docs.size.toDouble, "tokens" -> corpus.tokens.toDouble,
    "exact_dups_planted" -> corpus.exactDups.toDouble, "near_dups_planted" -> corpus.nearDups.toDouble,
    "sealed_copies_planted" -> corpus.sealedCopies.toDouble,
    "contaminated_planted" -> corpus.contaminated.toDouble)
}
