package graft.engine

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

import FossilSchema._

/** Fossil wire codec: little-endian fixed-width scalars, length-prefixed
  * variable members inside composites.
  *
  * Format per `pkg/schema/encoding.go:224-259` (encode), `:261-356` (decode),
  * and `pkg/query/types/value.go:126-142` (LE uint32 length prefixes for
  * string/binary composite members). Used for ingest/wire compatibility and
  * property tests; internal storage uses native Parquet types instead.
  */
object Codec {

  def encode(schema: SType, value: Any): Array[Byte] = schema match {
    case SString | SBinary => value match {
      case s: String => s.getBytes(StandardCharsets.UTF_8)
      case b: Array[Byte] => b
      case other => other.toString.getBytes(StandardCharsets.UTF_8)
    }
    case sc: Scalar =>
      val buf = ByteBuffer.allocate(scalarWidth(sc)).order(ByteOrder.LITTLE_ENDIAN)
      putScalar(buf, sc, value)
      buf.array()
    case SArray(len, elem) =>
      val xs = value match {
        case a: Array[_] => a.toSeq
        // collection.Seq, not just immutable.Seq — Spark rows carry
        // mutable.ArraySeq for array columns
        case s: scala.collection.Seq[_] => s
        case other => throw new IllegalArgumentException(s"expected array, got $other")
      }
      require(xs.length == len, s"array length ${xs.length} != declared $len")
      val buf = ByteBuffer.allocate(scalarWidth(elem) * len).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(x => putScalar(buf, elem, x))
      buf.array()
    case c: SComposite =>
      val m = value match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other => throw new IllegalArgumentException(s"expected map, got $other")
      }
      val parts = c.sorted.fields.map { case (k, t) =>
        val body = encode(t, m.getOrElse(k,
          throw new IllegalArgumentException(s"missing composite key '$k'")))
        t match {
          case SString | SBinary =>
            val withLen = ByteBuffer.allocate(4 + body.length).order(ByteOrder.LITTLE_ENDIAN)
            withLen.putInt(body.length).put(body)
            withLen.array()
          case _ => body
        }
      }
      parts.foldLeft(Array.emptyByteArray)(_ ++ _)
    case SUnknown | SAmbiguous =>
      throw new IllegalArgumentException(s"cannot encode schema ${schema.ddl}")
  }

  def decode(schema: SType, bytes: Array[Byte]): Any = schema match {
    case SString => new String(bytes, StandardCharsets.UTF_8)
    case SBinary => bytes
    case sc: Scalar =>
      getScalar(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN), sc)
    case SArray(len, elem) =>
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      (0 until len).map(_ => getScalar(buf, elem))
    case c: SComposite =>
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      c.sorted.fields.map { case (k, t) =>
        val v = t match {
          case SString | SBinary =>
            val n = buf.getInt
            val body = new Array[Byte](n)
            buf.get(body)
            if (t == SString) new String(body, StandardCharsets.UTF_8) else body
          case sc: Scalar => getScalar(buf, sc)
          case SArray(len, elem) => (0 until len).map(_ => getScalar(buf, elem))
          case other => throw new IllegalArgumentException(s"bad member ${other.ddl}")
        }
        k -> v
      }.toMap
    case SUnknown | SAmbiguous => bytes
  }

  /** A [[decode]]d value as Spark's external type: a composite's Map becomes
    * a [[Row]] in the struct's (key-sorted) field order; scalars and arrays
    * pass through. */
  def toSpark(schema: SType, value: Any): Any = (schema, value) match {
    case (c: SComposite, m: Map[_, _]) =>
      val fields = m.asInstanceOf[Map[String, Any]]
      Row.fromSeq(c.sorted.fields.map { case (k, _) => fields(k) })
    case _ => value
  }

  /** Validate that `bytes` conform to `schema` — the append-time gate
    * (`pkg/database/db.go:489-495`, `pkg/schema/objects.go:101-134`). */
  def validates(schema: SType, bytes: Array[Byte]): Boolean = schema match {
    case SString | SBinary | SUnknown | SAmbiguous => true
    case sc: Scalar => bytes.length == scalarWidth(sc)
    case SArray(len, elem) => bytes.length == len * scalarWidth(elem)
    case c: SComposite =>
      // length-exact like the reference's width walk: every member consumes
      // its declared bytes and nothing is left over. Walked WITHOUT decoding
      // — a decode/re-encode round-trip through String would false-reject
      // members whose bytes aren't valid UTF-8 (replacement chars change
      // the re-encoded length, but the reference validates structure only).
      try {
        val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        c.sorted.fields.forall { case (_, t) =>
          t match {
            case SString | SBinary =>
              buf.remaining() >= 4 && {
                val n = buf.getInt
                n >= 0 && buf.remaining() >= n && { buf.position(buf.position() + n); true }
              }
            case sc: Scalar =>
              val w = scalarWidth(sc)
              buf.remaining() >= w && { buf.position(buf.position() + w); true }
            case SArray(len, elem) =>
              val w = scalarWidth(elem) * len
              buf.remaining() >= w && { buf.position(buf.position() + w); true }
            case _ => false
          }
        } && buf.remaining() == 0
      } catch { case _: Exception => false }
  }

  private def scalarWidth(s: Scalar): Int = s match {
    case SBool | SInt8 | SUInt8 => 1
    case SInt16 | SUInt16 => 2
    case SInt32 | SUInt32 | SFloat32 => 4
    case SInt64 | SUInt64 | SFloat64 => 8
    case SString | SBinary => throw new IllegalArgumentException("variable width")
  }

  private def asLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case b: Boolean => if (b) 1L else 0L
    case other => other.toString.toLong
  }

  private def putScalar(buf: ByteBuffer, s: Scalar, v: Any): Unit = s match {
    case SBool => buf.put(if (asLong(v) != 0) 1.toByte else 0.toByte)
    case SInt8 | SUInt8 => buf.put(asLong(v).toByte)
    case SInt16 | SUInt16 => buf.putShort(asLong(v).toShort)
    case SInt32 | SUInt32 => buf.putInt(asLong(v).toInt)
    case SInt64 | SUInt64 => buf.putLong(asLong(v))
    case SFloat32 => buf.putFloat(v.asInstanceOf[Number].floatValue())
    case SFloat64 => buf.putDouble(v.asInstanceOf[Number].doubleValue())
    case SString | SBinary => throw new IllegalArgumentException("variable width")
  }

  /** Unsigned ints read into the next wider signed value, as the reference
    * does (`pkg/query/types/value.go:69-75`). */
  private def getScalar(buf: ByteBuffer, s: Scalar): Any = s match {
    case SBool => buf.get() != 0
    case SInt8 => buf.get()
    case SUInt8 => (buf.get() & 0xff).toShort
    case SInt16 => buf.getShort
    case SUInt16 => buf.getShort & 0xffff
    case SInt32 => buf.getInt
    case SUInt32 => buf.getInt.toLong & 0xffffffffL
    case SInt64 | SUInt64 => buf.getLong
    case SFloat32 => buf.getFloat
    case SFloat64 => buf.getDouble
    case SString | SBinary => throw new IllegalArgumentException("variable width")
  }
}
