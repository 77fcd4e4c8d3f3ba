package graft.ops

import java.nio.{ByteBuffer, ByteOrder}

/** RIFF container framing, the chunk format AVI and WAV share: a chunk is
  * a four-character id, a little-endian 32-bit payload size and the
  * payload, padded to an even length; a `LIST` chunk's payload is a form
  * type followed by child chunks, and a file is one `RIFF` chunk of that
  * shape. The writer derives every size field and pad byte from a chunk
  * tree; the reader turns a file back into (id, payload offset, payload
  * size) spans, descending into `LIST`s. */
private[graft] object Riff {

  /** A chunk to write. */
  sealed trait Node {
    /** Payload bytes, without the 8-byte header and the pad byte. */
    def size: Int
  }

  /** A leaf chunk whose `body` puts exactly `size` payload bytes. */
  final case class Leaf(id: String, size: Int)(val body: ByteBuffer => Unit) extends Node

  /** A `LIST` chunk of form type `form` over `children`. */
  final case class ListOf(form: String, children: Seq[Node]) extends Node {
    lazy val size: Int = 4 + children.map(c => 8 + c.size + (c.size & 1)).sum
  }

  /** Serialize `RIFF <form>` over `children`. */
  def write(form: String, children: Seq[Node]): Array[Byte] = {
    val root = ListOf(form, children)
    val buf = ByteBuffer.allocate(8 + root.size).order(ByteOrder.LITTLE_ENDIAN)
    def put(id: String, node: Node): Unit = {
      buf.putInt(fourcc(id)); buf.putInt(node.size)
      val start = buf.position()
      node match {
        case l: Leaf => l.body(buf)
        case ListOf(f, cs) =>
          buf.putInt(fourcc(f))
          cs.foreach {
            case l: Leaf => put(l.id, l)
            case c: ListOf => put("LIST", c)
          }
      }
      require(buf.position() - start == node.size,
        s"chunk '$id' wrote ${buf.position() - start} bytes, declared ${node.size}")
      if ((node.size & 1) == 1) buf.put(0.toByte)
    }
    put("RIFF", root)
    buf.array()
  }

  /** A chunk read from a file: id, payload offset and payload size. A
    * `LIST` also holds its children; `cut` is set when a child declared a
    * size past this chunk's end, which ends the child list there. */
  final case class Chunk(id: String, off: Int, size: Int,
      children: Seq[Chunk] = Nil, cut: Boolean = false) {
    /** Every descendant in file order, each `LIST` before its children. */
    def flatten: Seq[Chunk] = children.flatMap(c => c +: c.flatten)
  }

  /** Read a `RIFF <form>` file into its chunk tree, rooted at the `RIFF`
    * chunk; the walk stops at the declared RIFF size or the end of the
    * bytes, whichever comes first. None when the bytes do not open with
    * that header. */
  def read(bytes: Array[Byte], form: String): Option[Chunk] = {
    if (bytes.length < 12 || fourccAt(bytes, 0) != "RIFF" ||
      fourccAt(bytes, 8) != form) return None
    def walk(start: Int, end: Int): (Seq[Chunk], Boolean) = {
      val out = Vector.newBuilder[Chunk]
      var off = start
      while (off + 8 <= end) {
        val id = fourccAt(bytes, off)
        val size = le32(bytes, off + 4)
        val data = off + 8
        if (size < 0 || size > end - data) return (out.result(), true)
        out += (if (id == "LIST" && size >= 4) {
          val (cs, cut) = walk(data + 4, data + size)
          Chunk(id, data, size, cs, cut)
        } else Chunk(id, data, size))
        off = data + size + (size & 1)
      }
      (out.result(), false)
    }
    val size = le32(bytes, 4)
    val (cs, cut) = walk(12, math.min(bytes.length, 8 + size))
    Some(Chunk("RIFF", 8, size, cs, cut))
  }

  /** A four-character code as the little-endian int that spells it. */
  def fourcc(code: String): Int = {
    require(code.length == 4, s"not a four-character code: '$code'")
    code.charAt(0) | (code.charAt(1) << 8) | (code.charAt(2) << 16) | (code.charAt(3) << 24)
  }

  /** The four-character code at `off`. */
  def fourccAt(bytes: Array[Byte], off: Int): String = {
    val cs = new Array[Char](4)
    var i = 0
    while (i < 4) { cs(i) = (bytes(off + i) & 0xff).toChar; i += 1 }
    new String(cs)
  }

  def le32(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
      ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)

  def le16(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
}
