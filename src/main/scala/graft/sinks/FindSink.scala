package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import Wire.{Buf, LengthDelimited}

/** Find-endpoint wire formats (`find/find.go:50-245`): pickle list of
  * `{metric_path, isLeaf}` dicts and the GlobResponse protobuf
  * (`name = 1; repeated GlobMatch{path = 1, isLeaf = 2} matches = 2`),
  * shared by the v2 and v3 carbonapi protocols.
  */
object FindSink {

  /** Pickle body: `[{metric_path: ..., isLeaf: bool}, ...]`; empty →
    * the canonical empty list.
    */
  def pickle(rows: Seq[(String, Boolean)]): Array[Byte] = {
    if (rows.isEmpty) return PickleSink.emptyList
    val paths = rows.map(_._1.getBytes(UTF_8))
    // per row: EMPTY_DICT, two keys, two SETITEMs, the bool, APPEND
    val total = 4 + paths.map(p => 5 + MetricPath.length + PickleSink.strSize(p) + IsLeaf.length).sum
    val w = new PickleSink.Out(total)
    w.op(0x80); w.op(2); w.op(']')
    rows.lazyZip(paths).foreach { case ((_, isLeaf), p) =>
      w.op('}')
      w.raw(MetricPath); w.str(p); w.op('s')
      w.raw(IsLeaf)
      w.op(if (isLeaf) 0x88 else 0x89) // NEWTRUE 0x88 / NEWFALSE 0x89
      w.op('s')
      w.op('a')
    }
    w.op('.')
    w.bytes
  }

  private val MetricPath = PickleSink.key("metric_path")
  private val IsLeaf = PickleSink.key("isLeaf")

  /** GlobResponse protobuf (identical field layout in carbonapi v2
    * and v3).
    */
  def protobuf(query: String, rows: Seq[(String, Boolean)]): Array[Byte] = {
    val b = new Buf
    b.string(1, query)
    rows.foreach { case (path, isLeaf) =>
      val m = new Buf
      m.string(1, path)
      m.tag(2, 0).byte(if (isLeaf) 1 else 0)
      b.tag(2, LengthDelimited).varint(m.size.toLong).raw(m.bytes)
    }
    b.bytes
  }
}
