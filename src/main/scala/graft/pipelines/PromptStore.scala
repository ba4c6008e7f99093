package graft.pipelines

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.ops.Canonicalize

/** Class-prompt management (app:143-199): the save / delete / list
  * surface of the reference's prompt editor, set-based.
  *
  *  - save   = MERGE upsert on class_name (app:188-194)
  *  - delete = DELETE WHERE class_name (app:198)
  *  - get    = canonicalized read (app:161-183, app:490)
  */
object PromptStore {

  // class-prompt cache: no TTL, explicit invalidation on save/delete —
  // exactly the reference's @st.cache_data + .clear() pattern (app:143,
  // app:195, app:199). Keyed by (warehouse root, class).
  private val promptCache =
    new graft.engine.TtlCache[(String, String), Map[String, String]](Long.MaxValue)

  /** Upsert one class's prompt schema (stored canonicalized). */
  def save(cat: Catalog, className: String, promptsJson: String): Unit = {
    val spark = cat.spark
    import spark.implicits._
    val canon = Canonicalize.toJson(Canonicalize(promptsJson, className))
    val row = Seq((className, canon)).toDF("class_name", "prompts")
      .withColumn("created_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())
    cat.merge("CLASS_PROMPTS", row, Seq("class_name"))
    promptCache.invalidate((cat.root, className))
  }

  /** Remove a class (app:198). */
  def delete(cat: Catalog, className: String): Unit = {
    cat.deleteWhere("CLASS_PROMPTS", col("class_name") === className)
    promptCache.invalidate((cat.root, className))
  }

  /** Invalidate every cached class of a warehouse — called by any
    * writer that touches CLASS_PROMPTS outside save/delete (e.g.
    * Pipelines.ensurePrompts' auto-generation).
    */
  def invalidateAll(cat: Catalog): Unit =
    promptCache.invalidateIf(_._1 == cat.root)

  /** Seed the optional sample invoice class (setup_database.sql:129-143):
    * insert-if-absent semantics — an existing 'invoice' schema is never
    * overwritten, and re-running is a no-op.
    */
  def seedSampleClass(cat: Catalog): Unit =
    // WHERE NOT EXISTS guard (single-writer, like the setup script)
    if (cat.table("CLASS_PROMPTS").filter(col("class_name") === "invoice").isEmpty) {
      val now = Timestamp.from(Instant.now())
      cat.appendRows("CLASS_PROMPTS", Seq(Row("invoice", sampleInvoicePrompts, now, now)))
      promptCache.invalidate((cat.root, "invoice"))
    }

  /** The reference's sample invoice schema (setup:130-142), verbatim. */
  private val sampleInvoicePrompts: String =
    """{"invoice_number": "What is the invoice number?",
      | "invoice_date": "What is the invoice date?",
      | "due_date": "What is the due date or payment due date?",
      | "vendor_name": "Who is the vendor or supplier?",
      | "vendor_address": "What is the vendor address?",
      | "customer_name": "Who is the customer or bill to?",
      | "total_amount": "What is the total amount or grand total?",
      | "tax_amount": "What is the tax amount?",
      | "subtotal": "What is the subtotal before tax?",
      | "payment_terms": "What are the payment terms?"}""".stripMargin

  /** All classes, sorted (app:146). */
  def list(cat: Catalog): DataFrame =
    cat.table("CLASS_PROMPTS").select(col("class_name"), col("prompts"))
      .orderBy(col("class_name"))

  /** One class's canonical prompt map (app:153, app:161-183), served
    * from the invalidation-based cache.
    */
  def get(cat: Catalog, className: String): Map[String, String] =
    promptCache.getOrElseUpdate((cat.root, className)) {
      cat.table("CLASS_PROMPTS")
        .filter(col("class_name") === className)
        .select(col("prompts")).collect()
        .headOption
        .map(r => Canonicalize(r.getString(0), className))
        .getOrElse(Map.empty)
    }
}
