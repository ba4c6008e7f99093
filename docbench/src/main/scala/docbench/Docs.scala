package docbench

import java.nio.charset.StandardCharsets

import graft.ai.DeterministicLocalBackend
import graft.ops.Canonicalize

/** Seeded business documents of about 300 characters, and the answers
  * the deterministic backend gives for them — the reference every
  * pipeline output is checked against.
  */
object Docs {
  final case class Doc(name: String, text: String) {
    def bytes: Array[Byte] = text.getBytes(StandardCharsets.UTF_8)
  }

  private val subjects = Seq("The supplier", "Our client", "The buyer", "This office",
    "The contractor", "The lender", "Acme Corp", "The tenant", "The auditor", "Globex Ltd")
  private val verbs = Seq("confirms", "requests", "reports", "approves", "disputes",
    "records", "schedules", "reviews", "settles", "notes")
  private val objects = Seq("the quarterly invoice", "a revised delivery date",
    "the annual report title", "payment terms of 30 days", "the main party to the lease",
    "an outstanding balance", "the signed contract", "a shipment of parts",
    "the audit findings", "the renewal form")
  private val tails = Seq("before the end of the month.", "as agreed in writing.",
    "with no further changes.", "pending final approval.", "for the records department.",
    "under the standing agreement.", "at the next board meeting.", "by registered mail.")

  /** A generator for one use of the benchmark seed. Seeds are hashed
    * first: `java.util.Random` gives nearly the same first draws for
    * nearby seeds.
    */
  def rng(seed: Long, use: String): scala.util.Random =
    new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"$seed/$use"))

  /** `n` distinct documents named doc_00000.txt ... for `seed`. */
  def generate(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = Docs.rng(seed, "documents")
    def pick(xs: Seq[String]) = xs(rng.nextInt(xs.size))
    (0 until n).map { i =>
      val sb = new StringBuilder(s"Document ${seed % 100000}-$i. ")
      while (sb.length < 260 + rng.nextInt(80))
        sb.append(s"${pick(subjects)} ${pick(verbs)} ${pick(objects)} ${pick(tails)} ")
      Doc(f"doc_$i%05d.txt", sb.toString.trim)
    }
  }

  private val b = DeterministicLocalBackend

  /** The prompt-schema request `Pipelines.ensurePrompts` sends for a class. */
  def schemaPrompt(cls: String): String =
    s"Generate a JSON object of field: question pairs for class '$cls'"

  def classOf(d: Doc): String = b.classify(b.parse(d.bytes))

  /** Prompt map an interactive request extracts with for `cls`. */
  def promptsFor(cls: String): Map[String, String] =
    Canonicalize(b.complete("mistral-7b", schemaPrompt(cls)), cls)

  def answers(d: Doc, prompts: Map[String, String]): Map[String, String] =
    b.answerAll(b.parse(d.bytes), prompts)

  def summary(d: Doc): String = b.complete("mistral-7b", b.parse(d.bytes).take(6000))

  /** Fixed prompts of the set-based modes (batch SQL and stream). */
  val bulkPrompts: Map[String, String] = Map(
    "title" -> "What is the title?",
    "date" -> "What is the delivery date?",
    "party" -> "Who is the main party?")
}
