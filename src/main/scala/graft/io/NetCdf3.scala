package graft.io

import java.io.{BufferedOutputStream, Closeable, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal NetCDF classic writer/reader — the 64-bit-offset variant
  * (magic `CDF\x02`), implemented from the public NetCDF file-format
  * specification: header = magic, numrecs, dim_list, gatt_list,
  * var_list; data = fixed-variable section, then the record section
  * with one interleaved slab per record variable per record.
  *
  * The reference compiles its cube to a real `.nc` artifact
  * (`/root/reference/code/compile-solrad.py:176-195`); round 1 mapped
  * that sink to partitioned parquet + a JSON attribute sidecar (still
  * the scalable canonical form — see [[Sinks.writeCube]]). This module
  * closes the remaining fidelity gap: an actual NetCDF binary a
  * downstream xarray/nco user can open.
  *
  * Scale posture: NetCDF classic is a single sequential file — there is
  * no distributed write for it, by format definition. The writer
  * therefore streams: time is the UNLIMITED record dimension, the caller
  * declares `numrecs` up front so the header is final when it is
  * written, and records are appended one time-slab at a time. The file
  * is written front to back in one pass through the path's Hadoop
  * `FileSystem` (no seek, so any scheme that can create a file can hold
  * one) and read back through `FileSystem.open`. Writer memory is one
  * time slice (n_stations doubles per variable), never the cube.
  *
  * Supported surface (what the cube needs, nothing speculative):
  * dims, char/double/int variables, char attributes, one record dim.
  */
object NetCdf3 {

  sealed trait NcType { def id: Int; def size: Int }
  case object NcChar extends NcType { val id = 2; val size = 1 }
  case object NcInt extends NcType { val id = 4; val size = 4 }
  case object NcDouble extends NcType { val id = 6; val size = 8 }

  /** `length == 0` marks the record (UNLIMITED) dimension. */
  case class Dim(name: String, length: Int) { def isRecord: Boolean = length == 0 }

  /** Char attribute (CF metadata is string-valued). */
  case class Attr(name: String, text: String)

  case class Var(name: String, dimIds: Seq[Int], attrs: Seq[Attr], tpe: NcType)

  // ------------------------------------------------------------- writer

  /** Streaming writer. Construction writes the header, with `numRecs`
    * as the record count, and the fixed (non-record) variables;
    * [[writeRecord]] appends one record; [[close]] closes the file and
    * fails unless exactly `numRecs` records were written.
    *
    * `fixedData`: one entry per non-record variable — `Array[Double]`,
    * `Array[Int]`, or `Array[Byte]` (char), in row-major dim order.
    */
  final class Writer(
      path: String, dims: Seq[Dim], gattrs: Seq[Attr], vars: Seq[Var],
      fixedData: Map[String, AnyRef], numRecs: Int, conf: Configuration) extends Closeable {

    require(dims.count(_.isRecord) <= 1, "at most one record dimension")
    private val recordDimId = dims.indexWhere(_.isRecord)
    private def isRecordVar(v: Var): Boolean = v.dimIds.contains(recordDimId) && recordDimId >= 0
    require(vars.filter(isRecordVar).forall(_.dimIds.head == recordDimId),
      "record dim must be a record variable's outermost dimension")

    /** Classic-format special case: a file whose ONLY record variable
      * is byte/char/short typed packs its record slabs WITHOUT padding
      * (and advertises the unpadded vsize) — external readers depend on
      * it, so a symmetric writer/reader pair alone would hide getting
      * it wrong.
      */
    private lazy val specialUnpaddedRecord: Boolean = {
      val recs = vars.filter(isRecordVar)
      recs.length == 1 && recs.head.tpe.size < 4
    }

    /** Bytes of one variable's per-record (or whole, if fixed) slab,
      * padded to the 4-byte boundary the spec requires — except the
      * single-small-record-variable special case above.
      */
    private def vsize(v: Var): Long = {
      val n = v.dimIds.filterNot(_ == recordDimId).map(dims(_).length.toLong).product
      val raw = n * v.tpe.size
      if (isRecordVar(v) && specialUnpaddedRecord) raw else pad4(raw)
    }
    private def pad4(n: Long): Long = (n + 3) / 4 * 4

    private def nameBytes(s: String): Array[Byte] = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      val out = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(out)
      d.writeInt(b.length); d.write(b); (0 until padTo4(b.length)).foreach(_ => d.writeByte(0))
      out.toByteArray
    }
    private def padTo4(n: Int): Int = (4 - n % 4) % 4

    private def attrBytes(a: Attr): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(out)
      d.write(nameBytes(a.name))
      d.writeInt(NcChar.id)
      val b = a.text.getBytes(StandardCharsets.UTF_8)
      d.writeInt(b.length); d.write(b); (0 until padTo4(b.length)).foreach(_ => d.writeByte(0))
      out.toByteArray
    }

    private def attrListBytes(attrs: Seq[Attr]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(out)
      if (attrs.isEmpty) { d.writeInt(0); d.writeInt(0) }
      else { d.writeInt(0x0C); d.writeInt(attrs.length); attrs.foreach(a => d.write(attrBytes(a))) }
      out.toByteArray
    }

    /** One var entry given its data-section begin offset (8 bytes in
      * the 64-bit-offset format).
      */
    private def varBytes(v: Var, begin: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(out)
      d.write(nameBytes(v.name))
      d.writeInt(v.dimIds.length); v.dimIds.foreach(d.writeInt)
      d.write(attrListBytes(v.attrs))
      d.writeInt(v.tpe.id)
      d.writeInt(vsize(v).toInt)
      d.writeLong(begin)
      out.toByteArray
    }

    private def headerBytes(begins: Map[String, Long]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(out)
      d.write("CDF".getBytes(StandardCharsets.US_ASCII)); d.writeByte(2)
      d.writeInt(numRecs)
      if (dims.isEmpty) { d.writeInt(0); d.writeInt(0) }
      else {
        d.writeInt(0x0A); d.writeInt(dims.length)
        dims.foreach { dim => d.write(nameBytes(dim.name)); d.writeInt(dim.length) }
      }
      d.write(attrListBytes(gattrs))
      if (vars.isEmpty) { d.writeInt(0); d.writeInt(0) }
      else {
        d.writeInt(0x0B); d.writeInt(vars.length)
        vars.foreach(v => d.write(varBytes(v, begins(v.name))))
      }
      out.toByteArray
    }

    // Layout: header size is offset-independent (begins are fixed-width),
    // so compute it with zero begins, then place fixed vars in definition
    // order followed by the record section.
    private val headerSize: Long =
      headerBytes(vars.map(_.name -> 0L).toMap).length.toLong
    private val fixedVars = vars.filterNot(isRecordVar)
    private val recordVars = vars.filter(isRecordVar)
    private val begins: Map[String, Long] = {
      var off = headerSize
      val fixed = fixedVars.map { v => val b = v.name -> off; off += vsize(v); b }
      val recStart = off
      var recOff = recStart
      val rec = recordVars.map { v => val b = v.name -> recOff; recOff += vsize(v); b }
      (fixed ++ rec).toMap
    }
    require(numRecs >= 0, s"numRecs $numRecs")
    private var written = 0
    private val stream: DataOutputStream = {
      fixedVars.foreach(v => slabBytes(v, fixedData(v.name)))
      val p = new Path(path)
      val d = new DataOutputStream(
        new BufferedOutputStream(p.getFileSystem(conf).create(p, true), 1 << 16))
      d.write(headerBytes(begins))
      fixedVars.foreach(v => writeSlab(d, v, fixedData(v.name)))
      d
    }

    /** The payload bytes of a slab, once it is known to fill `vsize(v)`. */
    private def slabBytes(v: Var, data: AnyRef): Long = {
      val bytes: Long = data match {
        case a: Array[Double] => a.length.toLong * 8
        case a: Array[Int]    => a.length.toLong * 4
        case a: Array[Byte]   => a.length.toLong
        case other => throw new IllegalArgumentException(
          s"unsupported slab payload ${other.getClass} for var ${v.name}")
      }
      require(bytes == vsize(v) || pad4(bytes) == vsize(v),
        s"var ${v.name}: slab of $bytes bytes does not fill vsize ${vsize(v)}")
      bytes
    }

    private def writeSlab(d: DataOutputStream, v: Var, data: AnyRef): Unit = {
      val bytes = slabBytes(v, data)
      data match {
        case a: Array[Double] => a.foreach(d.writeDouble)
        case a: Array[Int]    => a.foreach(d.writeInt)
        case a: Array[Byte]   => d.write(a)
      }
      (0 until (vsize(v) - bytes).toInt).foreach(_ => d.writeByte(0))
    }

    /** Append one record: a slab per record variable, in var order. Every
      * slab is checked before any byte is written — a partial record
      * would silently misalign every later one.
      */
    def writeRecord(data: Map[String, AnyRef]): Unit = {
      if (written == numRecs) throw new IllegalStateException(
        s"record ${written + 1} of a file declared with $numRecs")
      recordVars.foreach(v => slabBytes(v, data(v.name)))
      recordVars.foreach(v => writeSlab(stream, v, data(v.name)))
      written += 1
    }

    /** Close the file; the header's `numrecs` must match what was written. */
    def close(): Unit = {
      stream.close()
      if (written != numRecs) throw new IllegalStateException(
        s"$path: $written records written, $numRecs declared in the header")
    }
  }

  // ------------------------------------------------------------- reader
  /** Parsed file: dims, global attrs, and per-var (meta, values) with
    * record slabs re-assembled into one contiguous row-major array.
    * Char data comes back as `Array[Byte]`, numerics as their boxed
    * array. Built for spec-level round-trip verification, not for
    * general NetCDF ingestion.
    */
  case class Nc(dims: Seq[Dim], gattrs: Seq[Attr], vars: Seq[(Var, AnyRef)])

  def read(path: String, conf: Configuration): Nc = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val buf = try ByteBuffer.wrap(in.readAllBytes()) finally in.close()
    val magic = Array.fill(3)(buf.get()).map(_.toChar).mkString
    val version = buf.get()
    require(magic == "CDF" && (version == 1 || version == 2), s"not a classic NetCDF file: $path")
    val numRecs = buf.getInt()
    require(numRecs >= 0, s"$path: numrecs $numRecs (STREAMING files are not supported)")

    def readName(): String = {
      val n = buf.getInt()
      val b = new Array[Byte](n); buf.get(b)
      buf.position(buf.position() + (4 - n % 4) % 4)
      new String(b, StandardCharsets.UTF_8)
    }
    def readAttrList(): Seq[Attr] = {
      val tag = buf.getInt(); val n = buf.getInt()
      require(tag == 0x0C || (tag == 0 && n == 0), s"bad attr list tag $tag")
      (0 until n).map { _ =>
        val name = readName()
        val tpe = buf.getInt()
        require(tpe == NcChar.id, "reader supports char attrs only")
        val len = buf.getInt()
        val b = new Array[Byte](len); buf.get(b)
        buf.position(buf.position() + (4 - len % 4) % 4)
        Attr(name, new String(b, StandardCharsets.UTF_8))
      }
    }

    val dimTag = buf.getInt(); val nDims = buf.getInt()
    require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dim list tag $dimTag")
    val dims = (0 until nDims).map(_ => Dim(readName(), buf.getInt()))
    val recordDimId = dims.indexWhere(_.isRecord)
    val gattrs = readAttrList()

    val varTag = buf.getInt(); val nVars = buf.getInt()
    require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad var list tag $varTag")
    case class VarMeta(v: Var, vsize: Long, begin: Long)
    val metas = (0 until nVars).map { _ =>
      val name = readName()
      val nd = buf.getInt()
      val dimIds = (0 until nd).map(_ => buf.getInt())
      val attrs = readAttrList()
      val tpe = buf.getInt() match {
        case NcChar.id => NcChar; case NcInt.id => NcInt; case NcDouble.id => NcDouble
        case t => throw new IllegalArgumentException(s"unsupported nc_type $t")
      }
      val vsz = buf.getInt().toLong
      val begin = if (version == 2) buf.getLong() else buf.getInt().toLong
      VarMeta(Var(name, dimIds, attrs, tpe), vsz, begin)
    }

    def slabAt(off: Long, m: VarMeta): AnyRef = {
      val n = m.v.dimIds.filterNot(_ == recordDimId).map(dims(_).length.toLong).product.toInt
      val b = buf.duplicate(); b.position(off.toInt)
      m.v.tpe match {
        case NcDouble => Array.fill(n)(b.getDouble())
        case NcInt    => Array.fill(n)(b.getInt())
        case NcChar   => { val a = new Array[Byte](n); b.get(a); a }
      }
    }
    val recordMetas = metas.filter(m => recordDimId >= 0 && m.v.dimIds.contains(recordDimId))
    val recSize = recordMetas.map(_.vsize).sum
    val vars = metas.map { m =>
      if (!recordMetas.contains(m)) m.v -> slabAt(m.begin, m)
      else {
        val slabs = (0 until numRecs).map(r => slabAt(m.begin + r * recSize, m))
        val joined: AnyRef = m.v.tpe match {
          case NcDouble => slabs.map(_.asInstanceOf[Array[Double]]).toArray.flatten
          case NcInt    => slabs.map(_.asInstanceOf[Array[Int]]).toArray.flatten
          case NcChar   => slabs.map(_.asInstanceOf[Array[Byte]]).toArray.flatten
        }
        m.v -> joined
      }
    }
    Nc(dims, gattrs, vars)
  }
}
