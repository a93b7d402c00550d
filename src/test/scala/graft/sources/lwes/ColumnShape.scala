package graft.sources.lwes

import graft.lwes.LwesEvent
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.unsafe.types.UTF8String

/** Schema→event column shaping, derived ONCE from the read config: one
  * rule for name columns, path-derived partition columns, per-event-type
  * nulling, and attribute conversion through [[LwesOptions.toCatalyst]].
  * This is the reference the scan's columnar decoder is pinned against:
  * it shapes rows from decoded [[LwesEvent]] objects, the way the
  * reference SerDe maps an event to a row. */
private[lwes] final class ColumnShape(config: LwesReadConfig) extends Serializable {
  private val schema = config.schema
  private val attrNames: Array[String] =
    schema.fields.map(f => config.attrOf(f.name))
  private val requiredEvent: Array[String] =
    schema.fields.map(f => config.eventFor.getOrElse(f.name, ""))
  private val isPartition: Array[Boolean] =
    schema.fields.map(f => config.partitionCols.contains(f.name))
  private val nameColIdx: Int =
    config.eventNameCol.map(schema.fieldIndex).getOrElse(-1)

  /** ESF defaults per event as PRE-CONVERTED per-column Catalyst
    * values — a missing attribute materializes its declared default
    * through [[LwesOptions.toCatalyst]] exactly as a wire-present
    * value of the declared type would (A24). */
  private val defaultsByEvent: Map[String, Array[Any]] =
    config.esfDefaults.map { case (event, byAttr) =>
      event -> Array.tabulate[Any](schema.length) { i =>
        if (i == nameColIdx || isPartition(i)) null
        else if (requiredEvent(i).nonEmpty && requiredEvent(i) != event) null
        else byAttr.get(attrNames(i))
          .map(d => LwesOptions.toCatalyst(d, schema.fields(i).dataType)).orNull
      }
    }

  /** Catalyst value of column `i` for `ev` (null = SQL NULL). */
  def valueFor(i: Int, ev: LwesEvent,
      partitionValues: Map[String, String]): Any =
    if (i == nameColIdx) UTF8String.fromString(ev.name)
    else if (isPartition(i))
      partitionValues.get(schema.fields(i).name)
        .map(UTF8String.fromString).orNull
    else if (requiredEvent(i).nonEmpty && requiredEvent(i) != ev.name)
      null // column mapped to a different event type
    else ev.get(attrNames(i)) match {
      case Some(a) => LwesOptions.toCatalyst(a, schema.fields(i).dataType)
      case None =>
        if (defaultsByEvent.isEmpty) null
        else defaultsByEvent.get(ev.name) match {
          case Some(d) => d(i)
          case None => null
        }
    }
}

object ColumnShape {
  /** The rows a plain (unfiltered) lwes read `df` must return, decoded
    * the reference way: `openReader` → [[LwesEvent]] → `valueFor` over
    * the scan's own planned files. A corrupt record resyncs inside the
    * reader; a torn head or tail ends its file. Unordered. */
  def referenceRows(df: DataFrame): Seq[Row] = {
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[LwesScan]
    }.get
    val cfg = scan.config
    val shape = new ColumnShape(cfg)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val toRow = CatalystTypeConverters.createToScalaConverter(cfg.schema)
    val nameFilter: String => Boolean =
      if (cfg.eventNames.isEmpty) null else cfg.eventNames
    val wanted = cfg.schema.fieldNames.map(cfg.attrOf).toSet
    def torn(e: Throwable) = LwesDataSource.isCorruption(e)
    scan.planInputPartitions().toSeq.flatMap(LwesScan.partitionFiles).flatMap { p =>
      val r = try LwesDataSource.openReader(p.path, conf, nameFilter, wanted, p.range)
        catch { case e if torn(e) => null }
      if (r == null) Vector.empty[Row]
      else try Iterator.continually(try r.next() catch { case e if torn(e) => None })
        .takeWhile(_.isDefined).map(ev => toRow(new GenericInternalRow(
          Array.tabulate[Any](cfg.schema.length)(shape.valueFor(_, ev.get, p.partitionValues))))
          .asInstanceOf[Row]).toVector
      finally r.close()
    }
  }
}
