package graft.x12

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The time a frame is built, as a column whose generated code does not
  * carry it — the `created_at` and `generation_timestamp` stamps.
  * `current_timestamp()` folds to a timestamp literal, and whole-stage
  * codegen inlines such a literal into the Java source, so every build of
  * a plan stamped with it compiled new classes that Spark's codegen cache
  * could never reuse. The closure here reaches the generated class by
  * reference instead; it is non-deterministic so the optimizer does not
  * fold it back into a literal.
  */
private[x12] object BuildTime {
  def apply(): Column = {
    val at = Timestamp.from(Instant.now())
    udf(() => at).asNonNullable().asNondeterministic()()
  }
}
