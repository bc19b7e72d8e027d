package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary as a native Catalyst aggregate:
  * `misra_gries(item, k)` returns `array<struct<item:string, est:bigint>>`
  * — at most `k` candidates that provably include EVERY item whose true
  * count exceeds N/(k+1) over the whole stream (N = total items).
  *
  * Why a summary and not a census: the exact frequent-gram pass
  * (tx07/bp01) shuffles the full vocabulary — at 100 TB that census IS
  * the job. This aggregate's partial state is a bounded k-entry map, so
  * the map side combines locally and the shuffle moves ONE ≤k-entry
  * summary per partition (per group), independent of corpus size.
  *
  * Order-independence caveat, and why the engine's entries stay exactly
  * hash-checkable: the candidate SET depends on merge order, but the
  * no-false-negative guarantee does not — it holds under arbitrary
  * reordering and arbitrary merge trees (mergeable-summaries reduction:
  * on overflow past k entries, subtract the (k+1)-th largest count from
  * all and drop the non-positive). The engine therefore never exposes
  * the raw summary in an oracle-checked result; it uses the summary as
  * a candidate superset and re-counts the ≤k candidates EXACTLY in a
  * second pass, whose thresholded output is deterministic.
  *
  * Estimate semantics: each surviving `est` undercounts the true count
  * by at most N/(k+1) (classic MG bound; merges add the two sides'
  * bounds, still ≤ N_total/(k+1)).
  *
  * The optional `weight` child makes the aggregate REPLAYABLE: feeding
  * a previously-emitted summary back in as `(item, est)` weighted rows
  * is exactly an MG merge of the persisted summary with the new
  * stream's — the cross-batch state hand-off an incremental streaming
  * heavy-hitters gate needs (st24). A weighted insert is processed as
  * the merge of a singleton summary, so the mergeable-summaries error
  * bound (≤ total-processed-weight/(k+1)) carries through replay.
  */
case class MisraGriesAgg(
    child: Expression,
    weight: Option[Expression],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(k > 0, "misra_gries requires k > 0")

  override def children: Seq[Expression] = child +: weight.toSeq

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, weight.map(_.dataType)) match {
      case (StringType, None | Some(LongType)) =>
        TypeCheckResult.TypeCheckSuccess
      case (c, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string[, bigint weight]), got ($c, $w)")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      val w = weight match {
        case None => 1L
        case Some(we) => we.eval(input) match {
          case null => 0L
          case l: java.lang.Long => l.longValue()
        }
      }
      if (w == 1L) {
        buf.get(key) match {
          case Some(c) => buf.update(key, c + 1L)
          case None =>
            if (buf.size < k) {
              // the incoming UTF8String may alias a reused row buffer —
              // copy before it becomes a map key
              buf.update(key.clone(), 1L)
            } else {
              // classic MG step: absent item + full summary → charge
              // one count to every entry, dropping the exhausted ones
              val dead = mutable.ArrayBuffer.empty[UTF8String]
              buf.foreach { case (kk, c) =>
                if (c == 1L) dead += kk else buf.update(kk, c - 1L)
              }
              dead.foreach(buf.remove)
            }
        }
      } else if (w > 0L) {
        // weighted insert = merge of the singleton summary {key: w}
        buf.get(key) match {
          case Some(c) => buf.update(key, c + w)
          case None =>
            buf.update(key.clone(), w)
            if (buf.size > k) reduceToK(buf)
        }
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (kk, c) =>
      buf.update(kk, buf.getOrElse(kk, 0L) + c)
    }
    if (buf.size > k) reduceToK(buf)
    buf
  }

  /** Mergeable-summaries reduction: subtract the (k+1)-th largest
    * count from everything; at most k entries stay positive. */
  private def reduceToK(buf: mutable.HashMap[UTF8String, Long]): Unit = {
    val counts = buf.values.toArray
    java.util.Arrays.sort(counts)
    val cut = counts(counts.length - k - 1)
    val dead = mutable.ArrayBuffer.empty[UTF8String]
    buf.foreach { case (kk, c) =>
      if (c - cut <= 0L) dead += kk else buf.update(kk, c - cut)
    }
    dead.foreach(buf.remove)
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    // deterministic presentation of whatever the summary holds:
    // est desc, item asc
    val entries = buf.toArray.sortWith { case ((i1, e1), (i2, e2)) =>
      e1 > e2 || (e1 == e2 && i1.compareTo(i2) < 0)
    }
    new GenericArrayData(entries.map { case (item, est) =>
      new GenericInternalRow(Array[Any](item, est))
    })
  }

  override def serialize(
      buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (kk, c) =>
      val b = kk.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(
      bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head,
         weight = if (newChildren.length > 1) Some(newChildren(1)) else None)
}
