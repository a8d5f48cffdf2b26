package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SemanticType

/** Multimodal column support (SURVEY.md §2.C row 12): image/audio/video
  * payloads as opaque BinaryType columns with a typed metadata struct,
  * plus the Spark-side plumbing for decode / feature-extraction.
  *
  * The decode ladder has two rungs:
  *
  *   - REAL header decode: [[encodeBmp]] builds genuine 8-bit BMP
  *     payloads (BITMAPFILEHEADER + BITMAPINFOHEADER, little-endian
  *     fields, 54-byte header) and [[decodeBmpHeader]] / [[meanPixel]]
  *     parse magic bytes, dimensions, bit depth and pixel statistics
  *     back out of the raw bytes with codegen-friendly expressions
  *     (`substring`/`hex`/`conv` on binary — whole-stage codegen, no
  *     UDF). [[bmpCodec]] is the same parse as a per-partition
  *     mapPartitions codec, so the batch seam decodes real bytes too.
  *   - STUB feature extraction: [[stubFeatures]] stands in for learned
  *     image embeddings (this environment ships no ML codec libraries);
  *     the schema, batching and partitioning around it are real, and a
  *     production deployment swaps only the feature fn. Compressed
  *     formats (JPEG/PNG pixel DECOMPRESSION) stay out for the same
  *     reason — header parsing is the honest boundary.
  */
object Multimodal {

  /** Metadata struct carried next to every payload column. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("digest", StringType)))

  /** Attach a payload (binary) + metadata struct derived from a source
    * column; marks the payload with the BINARY modality metadata so the
    * describe() ladder classifies it. */
  def withPayload(df: DataFrame, srcCol: String, mime: String,
      payloadCol: String = "payload"): DataFrame = {
    val payload = col(srcCol).cast(BinaryType)
    df.withColumn(payloadCol, payload)
      .withColumn(s"${payloadCol}_meta", struct(
        lit(mime).as("mime"),
        octet_length(payload).cast(LongType).as("n_bytes"),
        md5(payload).as("digest")))
  }

  /** STUB decode/feature-extract: `dim` deterministic pseudo-features in
    * [-1, 1) from seeded hashes of the payload. Replace with a real
    * decoder (e.g. a mapPartitions batch over a codec) in production; the
    * signature — binary in, fixed-width float array out — is the real
    * contract.
    *
    * The hash is built from md5 + ascii only, so any engine reproduces it
    * bit-for-bit (the DuckDB oracle checks this query end to end): feature
    * i = ((a*65536 + b*256 + c) % 2e6) / 1e6 - 1 where a,b,c are the code
    * points of the first three hex chars of md5(md5(payload) || (i+seed)).
    * Each value is an exact multiple of 1e-6, so the float round-trip is
    * stable under 6-digit rounding on both sides. */
  def stubFeatures(payload: Column, dim: Int, seed: Int = 42): Column = {
    val digest = md5(payload)
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val h = md5(concat(digest, (i + lit(seed)).cast(StringType)))
      val v = ascii(substring(h, 1, 1)) * 65536 +
        ascii(substring(h, 2, 1)) * 256 +
        ascii(substring(h, 3, 1))
      (pmod(v, lit(2000000)).cast(DoubleType) / 1000000.0 - 1.0).cast(FloatType)
    })
  }

  /** Feature extraction over a payload column: adds an
    * ArrayType(FloatType) features column (classified VECTOR by the
    * describe ladder). Pure expression — no shuffle, survives any
    * partitioning. */
  def extractFeatures(df: DataFrame, payloadCol: String, dim: Int,
      featuresCol: String = "features"): DataFrame =
    df.withColumn(featuresCol, stubFeatures(col(payloadCol), dim))

  // ---- real binary decode: BMP header ---------------------------------

  /** Little-endian unsigned integer read: `nBytes` bytes of `payload`
    * starting at 1-based `offset1`, reassembled as a long. Pure
    * `substring`/`hex`/`conv` arithmetic — codegen'd, no UDF. */
  def leUInt(payload: Column, offset1: Int, nBytes: Int): Column =
    (0 until nBytes).map { i =>
      conv(hex(substring(payload, offset1 + i, 1)), 16, 10).cast(LongType) *
        lit(1L << (8 * i))
    }.reduce(_ + _)

  /** Little-endian binary rendering of the low `nBytes` bytes of a long
    * column — the write-side twin of [[leUInt]]. */
  def leBytes(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      unhex(lpad(hex(shiftright(v.cast(LongType), 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)

  /** Build a REAL 8-bit-per-pixel BMP payload: 'BM' magic, 54-byte
    * BITMAPFILEHEADER+BITMAPINFOHEADER with little-endian size / width /
    * height / planes / bpp fields, then exactly width·height pixel bytes
    * taken from `pixels`. Callers keep `width` a multiple of 4 so the
    * row stride needs no padding and the file is spec-valid. */
  def encodeBmp(width: Column, height: Column, pixels: Column): Column = {
    val npix = (width.cast(LongType) * height.cast(LongType))
    concat(
      lit("BM".getBytes("US-ASCII")),
      leBytes(npix + lit(54L), 4), // file size
      leBytes(lit(0L), 4), // reserved
      leBytes(lit(54L), 4), // pixel-data offset
      leBytes(lit(40L), 4), // info-header size
      leBytes(width, 4),
      leBytes(height, 4),
      leBytes(lit(1L), 2), // planes
      leBytes(lit(8L), 2), // bits per pixel
      lit(Array.fill[Byte](24)(0)), // compression..important-colors
      pixels.substr(lit(1), npix.cast(IntegerType)))
  }

  /** Parse a BMP header back out of the raw payload bytes: format (from
    * the magic), width/height/bpp (little-endian fields), and a
    * `data_ok` consistency bit — declared file size equals the actual
    * byte count AND the pixel run matches width·height (the 8-bpp,
    * stride-aligned layout [[encodeBmp]] writes). Non-BMP payloads
    * yield format 'unknown' with null dimensions — decode never throws
    * on foreign bytes. Pure codegen expressions. */
  def decodeBmpHeader(payload: Column): Column = {
    val magicOk = octet_length(payload) >= 54 &&
      substring(payload, 1, 2) === lit("BM".getBytes("US-ASCII"))
    val width = leUInt(payload, 19, 4)
    val height = leUInt(payload, 23, 4)
    val bpp = leUInt(payload, 29, 2)
    val declared = leUInt(payload, 3, 4)
    struct(
      when(magicOk, lit("bmp")).otherwise(lit("unknown")).as("format"),
      when(magicOk, width).as("width"),
      when(magicOk, height).as("height"),
      when(magicOk, bpp).as("bpp"),
      (magicOk && declared === octet_length(payload).cast(LongType) &&
        octet_length(payload).cast(LongType) === width * height + lit(54L))
        .as("data_ok"))
  }

  /** Mean of the first `maxBytes` pixel bytes of a BMP payload (bytes
    * after the 54-byte header) — a real, replayable pixel statistic
    * computed from the decoded bytes, codegen'd end to end. */
  def meanPixel(payload: Column, maxBytes: Int = 16): Column = {
    val npix = octet_length(payload).cast(LongType) - lit(54L)
    val k = least(npix, lit(maxBytes.toLong))
    val s = aggregate(
      transform(sequence(lit(1L), k), i =>
        conv(hex(payload.substr((lit(54L) + i).cast(IntegerType), lit(1))), 16, 10)
          .cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    when(k > 0, s.cast(DoubleType) / k)
  }

  /** The BMP header parse as a per-partition codec for [[decodeBatched]]
    * — the mapPartitions seam decoding REAL bytes: features are
    * (width, height, mean of the first `maxBytes` pixel bytes), or
    * (-1, -1, -1) for non-BMP payloads. Bit-identical to the
    * [[decodeBmpHeader]]/[[meanPixel]] expression path (unit-asserted). */
  def bmpCodec(maxBytes: Int = 16): Codec = Codec(3, () => { payload =>
    def u(off: Int, n: Int): Long =
      (0 until n).map(i => (payload(off + i) & 0xffL) << (8 * i)).sum
    if (payload.length >= 54 && payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) {
      val w = u(18, 4)
      val h = u(22, 4)
      val k = math.min(payload.length - 54, maxBytes)
      val mean =
        if (k > 0) (54 until 54 + k).map(payload(_) & 0xff).sum.toFloat / k
        else Float.NaN
      Array(w.toFloat, h.toFloat, mean)
    } else Array(-1f, -1f, -1f)
  })

  /** A per-partition batch codec: `init` runs ONCE per partition and
    * returns the decode function — the handle a real decoder (image
    * codec, audio resampler, ONNX session) amortizes across its batch,
    * exactly the role a pandas-batched decoder plays under mapInPandas.
    * Must be serializable to ship to executors. */
  final case class Codec(dim: Int, init: () => Array[Byte] => Array[Float])
    extends Serializable

  /** The stub codec: JVM-side twin of [[stubFeatures]], bit-identical
    * feature values (unit-asserted), so the mapPartitions plumbing is
    * testable without any codec on the classpath. */
  def stubCodec(dim: Int, seed: Int = 42): Codec = Codec(dim, () => {
    // the "expensive handle": one digest instance per partition
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    (payload: Array[Byte]) => {
      val digest = hex(md.digest(payload))
      Array.tabulate(dim) { i =>
        val h = hex(md.digest((digest + (i + seed)).getBytes("UTF-8")))
        val v = (h(0).toInt * 65536 + h(1).toInt * 256 + h(2).toInt) % 2000000
        (v / 1000000.0 - 1.0).toFloat
      }
    }
  })

  /** Batch decode over mapPartitions — the Scala analog of a pandas
    * mapInPandas decoder: codec init once per partition, then the
    * decode function streams through the partition's rows. Narrow (no
    * shuffle), preserves the incoming partitioning, appends an
    * ArrayType(FloatType) column with an explicit Row encoder. */
  def decodeBatched(df: DataFrame, payloadCol: String, codec: Codec,
      featuresCol: String = "features"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = df.schema.add(featuresCol, ArrayType(FloatType))
    df.mapPartitions { it =>
      val decode = codec.init() // once per partition, like a batch handle
      it.map(r => Row.fromSeq(r.toSeq :+ decode(r.getAs[Array[Byte]](payloadCol))))
    }(Encoders.row(outSchema))
  }
}
