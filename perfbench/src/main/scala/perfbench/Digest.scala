package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full materialization of an operation's output, with a digest.
  *
  * Every timed operation ends in [[sink]]: the frame is written to the
  * `noop` sink (or to parquet, for the medallion layers) with a
  * `Dataset.observe` on top that computes the row count and the sum of
  * one 64-bit hash per row in the same pass. The hash reads every
  * output column of every row, so Catalyst can prune nothing, unlike
  * under `count()`; the sink keeps the plan's own sort. The digest is
  * order-insensitive (a sum) and rounding-tolerant (doubles are hashed
  * as their 9-significant-digit rendering, floats as 6), so it does not
  * depend on partition count or on the order partial aggregates merge.
  */
object Digest {
  final case class Out(rows: Long, digest: String)

  private val seq = new AtomicLong

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9g", c)
    case FloatType => format_string("%.6g", c)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType if st.nonEmpty =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }

  /** Writes `df` to `path` as parquet, or to the noop sink when `path`
    * is None, and returns its row count and digest. Columns named in
    * `skip` are written but left out of the digest (nondeterministic
    * values such as an ingestion timestamp). */
  def sink(df: DataFrame, path: Option[String] = None, skip: Set[String] = Set.empty): Out = {
    val names = df.columns.toSeq
    val positional = df.toDF(names.indices.map(i => s"c$i"): _*)
    val hashed = df.schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !skip(f.name) => norm(col(s"c$i"), f.dataType)
    }
    val obs = Observation(s"perfbench_${seq.incrementAndGet()}")
    val observed = positional
      .observe(obs, count(lit(1)).as("rows"),
        sum(xxhash64(hashed: _*).cast(DecimalType(38, 0))).as("digest"))
      .toDF(names: _*)
    path match {
      case Some(p) => observed.write.mode("overwrite").parquet(p)
      case None => observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    Out(m("rows").asInstanceOf[Long], String.valueOf(m.getOrElse("digest", null)))
  }
}
