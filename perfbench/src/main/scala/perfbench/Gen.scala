package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments: the same arguments give the same records, and
  * the writers render them byte for byte the same. The program under test
  * sees only the files written from these records. */
object Gen {

  // ---- vocabulary ---------------------------------------------------------

  private val Syllables: Array[String] =
    for (c <- "bdfgklmnprstvz".toArray; v <- "aeiou".toArray) yield s"$c$v"

  /** The i-th word: i written in base 70 over consonant-vowel syllables,
    * at least two syllables. Distinct for distinct i. */
  def wordOf(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    var k = 0
    while (k < 2 || x > 0) { sb.append(Syllables(x % Syllables.length)); x /= Syllables.length; k += 1 }
    sb.toString
  }

  /** A Zipf(s) vocabulary of `size` words: word r is drawn with weight
    * (r + 1)^-s. Documents drawn from it grow their distinct vocabulary
    * sublinearly with length, as Heaps' law describes. */
  final class Vocab(size: Int, s: Double) {
    private val words = Array.tabulate(size)(wordOf)
    private val cdf = {
      val w = Array.tabulate(size)(r => math.pow(r + 1.0, -s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def draw(rng: SplittableRandom): String = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
    def text(rng: SplittableRandom, n: Int): Vector[String] = Vector.fill(n)(draw(rng))
  }

  val vocab = new Vocab(20000, 1.05)

  // ---- documents -----------------------------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** A corpus with its planted defects counted. `sealedCopies` are
    * arriving documents whose bag of words equals a sealed document's
    * (doc_id % 10 == 7), so the curation ingest gate drops them. */
  final case class Corpus(docs: Vector[Doc], exactDups: Int, nearDups: Int,
      sealedCopies: Int, contaminated: Int) {
    def tokens: Long = docs.map(_.text.split(" ").length.toLong).sum
  }

  private val Langs = Vector("en", "en", "en", "zh", "de", "fr")

  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new SplittableRandom(seed * 1000003L + 17)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    // plants copy only original documents (fresh text, not sealed), so every
    // duplicate cluster is a star around its original and the dedup work
    // has the same shape under every seed
    val original = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var exact, near, copies, contam = 0
    def sealedId(i: Int) = i % 10 == 7
    def pick(ok: Int => Boolean): Option[Int] = {
      val cands = (0 until texts.size).filter(ok)
      if (cands.isEmpty) None else Some(cands(rng.nextInt(cands.size)))
    }
    def fresh(): Vector[String] = vocab.text(rng, 16 + rng.nextInt(49))
    val docs = (0 until n).map { i =>
      val p = rng.nextDouble()
      val (toks, orig) =
        if (i < 40 || sealedId(i)) (fresh(), !sealedId(i))
        else if (p < 0.04) pick(original).map { j => exact += 1; (texts(j), false) }
          .getOrElse((fresh(), true))
        else if (p < 0.08) pick(original).map { j =>
          near += 1
          val t = texts(j)
          (t.indices.map(k => if (k % 25 == 12) vocab.draw(rng) else t(k)).toVector, false)
        }.getOrElse((fresh(), true))
        else if (p < 0.10) pick(sealedId).map { j =>
          copies += 1
          val t = texts(j)
          (t.indices.map(k => t((k * 7 + 3) % t.size)).toVector match {
            case v if v.toSet == t.toSet => v
            case _ => t.reverse
          }, false)
        }.getOrElse((fresh(), true))
        else if (p < 0.13) pick(j => j % 20 == 7).map { j =>
          contam += 1
          val t = texts(j)
          val at = rng.nextInt(math.max(1, t.size - 10))
          (fresh() ++ t.slice(at, at + 10), false)
        }.getOrElse((fresh(), true))
        else (fresh(), true)
      texts += toks
      original += orig
      val text = toks.mkString(" ")
      Doc(i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(8)}", text.length.toLong)
    }.toVector
    Corpus(docs, exact, near, copies, contam)
  }

  // ---- span traces ---------------------------------------------------------

  /** Span JSONL lines and the closed-form counts a correct conversion
    * yields: records out, records flagged invalid. `assistant` holds every
    * assistant message the traces carry (the core.text timing set). */
  final case class Traces(lines: Vector[String], spans: Int, malformed: Int,
      records: Long, invalid: Long, assistant: Vector[String])

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def words(rng: SplittableRandom, n: Int): String = vocab.text(rng, n).mkString(" ")

  /** A well-formed NexAU XML tool invocation of one of four shapes. */
  def validCall(rng: SplittableRandom): String = rng.nextInt(4) match {
    case 0 =>
      s"""<tool_use>
         |<tool_name>search</tool_name>
         |<parameter>
         |<query>${words(rng, 3)}</query>
         |<limit>${1 + rng.nextInt(9)}</limit>
         |</parameter>
         |</tool_use>""".stripMargin
    case 1 =>
      s"""<use_parallel_tool_calls>
         |<parallel_tool><tool_name>fetch</tool_name><parameter><url>${words(rng, 1)}</url></parameter></parallel_tool>
         |<parallel_tool><tool_name>rank</tool_name><parameter><k>${1 + rng.nextInt(5)}</k></parameter></parallel_tool>
         |</use_parallel_tool_calls>""".stripMargin
    case 2 =>
      s"""<use_parallel_sub_agents>
         |<parallel_agent><agent_name>reader</agent_name><message>${words(rng, 4)}</message></parallel_agent>
         |<parallel_agent><agent_name>writer</agent_name><message>${words(rng, 4)}</message></parallel_agent>
         |</use_parallel_sub_agents>""".stripMargin
    case _ =>
      s"""<use_batch_agent>
         |<agent_name>labeler</agent_name>
         |<input_data_source><file_name>${words(rng, 1)}.jsonl</file_name><format>jsonl</format></input_data_source>
         |<message>${words(rng, 5)}</message>
         |</use_batch_agent>""".stripMargin
  }

  /** Truncated XML: an unclosed tool call the validator rejects. */
  def invalidCall(rng: SplittableRandom): String =
    s"""<tool_use>
       |<tool_name>search</tool_name>
       |<parameter>
       |<query>${words(rng, 3)}</query>""".stripMargin

  def traces(seed: Long, nTraces: Int): Traces = {
    val rng = new SplittableRandom(seed * 6364136223846793005L + 1442695040888963407L)
    val lines = Vector.newBuilder[String]
    val assistant = Vector.newBuilder[String]
    var spans, malformed = 0
    var records, invalid = 0L

    def emit(line: String): Unit = {
      lines += line; spans += 1
      if (spans % 37 == 0) {
        malformed += 1
        lines += (if (malformed % 2 == 0) """{"trace_id": "broken", "span_id": """
                  else """{"span_id": "no-trace", "span_type": "SPAN"}""")
      }
    }
    def spanLine(trace: String, id: String, tpe: String, name: String,
        parent: Option[String], start: Option[String], level: Int,
        input: Seq[(String, String)], output: Option[String], listOutput: Boolean): String = {
      val in = input.map { case (r, c) => s"""{"role": ${jsonStr(r)}, "content": ${jsonStr(c)}}""" }
        .mkString("[", ", ", "]")
      val out = output.map { c =>
        val o = s"""{"role": "assistant", "content": ${jsonStr(c)}}"""
        if (listOutput) s"[$o]" else o
      }.getOrElse("null")
      s"""{"trace_id": ${jsonStr(trace)}, "span_id": ${jsonStr(id)}, "span_type": "$tpe", """ +
        s""""span_name": ${jsonStr(name)}, "model": ${if (tpe == "GENERATION") "\"nex-1\"" else "null"}, """ +
        s""""input": $in, "output": $out, "startTime": ${start.map(jsonStr).getOrElse("null")}, """ +
        s""""endTime": null, "usage": {"input": ${rng.nextInt(4000)}}, """ +
        s""""parentObservationId": ${parent.map(jsonStr).getOrElse("null")}, "level": $level}"""
    }
    /** One generation group (several generations under one parent, or one
      * orphan); returns whether the group was planted invalid. */
    def group(trace: String, prefix: String, parent: Option[String], agent: String, n: Int): Boolean = {
      val bad = rng.nextDouble() < 0.12
      (0 until n).foreach { k =>
        val call = validCall(rng)
        val sys = s"""You are $agent, a helpful assistant.
                     |<TOOL_DEFINITIONS_START>
                     |Tool: search — finds ${words(rng, 2)}.
                     |<TOOL_DEFINITIONS_END>
                     |When you use tools or sub-agents, emit NexAU XML.""".stripMargin
        val turns = Seq(
          "system" -> sys,
          "user" -> s"Please research: ${words(rng, 8)}",
          "assistant" -> s"Starting ${words(rng, 2)}.\n$call",
          "user" -> s"Tool execution results:\n<tool_result><tool_name>search</tool_name><result>found ${words(rng, 3)}</result></tool_result>")
        val out =
          if (bad) s"Retrying ${words(rng, 2)}.\n${invalidCall(rng)}"
          else s"Done: ${words(rng, 3)}.\n${validCall(rng)}"
        assistant += turns(2)._2
        assistant += out
        // the first generation of a group sometimes lacks a start time; a
        // missing time sorts first, so the group's last generation is k = n - 1
        val start = if (k == 0 && rng.nextInt(3) == 0) None
                    else Some(f"2025-01-01T00:${k + 1}%02d:00.000Z")
        emit(spanLine(trace, s"$prefix-g$k", "GENERATION", "OpenAI-generation", parent,
          start, if (parent.isDefined) 2 else 0, turns, Some(out), listOutput = rng.nextInt(5) == 0))
      }
      bad
    }

    (0 until nTraces).foreach { t =>
      val trace = f"trace-$t%06d"
      val meta = t % 7 == 3
      val agentName = if (meta) "meta" else s"Sub-agent: agent_${t % 5}"
      emit(spanLine(trace, s"$trace-a", "SPAN", agentName, None,
        Some("2025-01-01T00:00:00.000Z"), 0, Nil, None, listOutput = false))
      val bad = group(trace, s"$trace-a", Some(s"$trace-a"), agentName.stripPrefix("Sub-agent: "), 2 + rng.nextInt(3))
      if (!meta) { records += 1; if (bad) invalid += 1 }
      if (t % 4 == 1) {
        records += 1
        if (group(trace, s"$trace-o", None, "orphan", 1)) invalid += 1
      }
      if (t % 3 == 2) {
        emit(spanLine(trace, s"$trace-n", "SPAN", "Sub-agent: researcher", Some(s"$trace-a"),
          Some("2025-01-01T00:00:30.000Z"), 1, Nil, None, listOutput = false))
        records += 1
        if (group(trace, s"$trace-n", Some(s"$trace-n"), "researcher", 2)) invalid += 1
      }
    }
    Traces(lines.result(), spans, malformed, records, invalid, assistant.result())
  }
}
