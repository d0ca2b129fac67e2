package graft.model

import org.apache.spark.sql.types._

/**
 * The reference pipeline's event contract: a declared schema, never
 * inferred on the hot path (cf. reference spark/app.py:40–50). The
 * streaming output contract is FIXTURES.md §A.3.
 *
 * Scale note: fixed schemas mean the parquet reader can prune columns and
 * push predicates without a sampling pass — mandatory at 100 TB where a
 * schema-inference scan would itself be a full job.
 */
object Schemas {

  /** Kafka JSON event payload (reference spark/app.py:40–50). All fields
    * nullable: the producer injects nulls deliberately (producer.py:30–36). */
  val eventPayload: StructType = StructType(Seq(
    StructField("event_id",   StringType),
    StructField("user_id",    IntegerType),
    StructField("product_id", IntegerType),
    StructField("amount",     DoubleType),
    StructField("event_time", StringType),   // ISO-8601; to_timestamp later
    StructField("country",    StringType),
    StructField("device",     StringType)))
}

/** users dim row (reference app.py:87–104 shape; values are ours). */
case class UserDim(user_id: Int, segment: String, is_premium: Boolean, country: String)

/** products dim row (reference app.py:106–125 shape; values are ours). */
case class ProductDim(product_id: Int, category: String, price_band: String)
