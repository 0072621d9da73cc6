package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Blosc decode validated against the reference's own fixture zarrs (known
  * grids: 1° global lat/lon axes, daily time axis, boolean extremes/mask).
  * Exercises every container case observed in the fixtures: split streams
  * (<f4 shuffle ts=4), single stream (ts=1), memcpy frames (<i4 time), and
  * the stored-uncompressed stream (lat plane 3). */
class BloscSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/data/extremes_gridded.zarr"
  private def available = new java.io.File(s"$fixture/.zgroup").exists() ||
    new java.io.File(s"$fixture/extreme_events/.zarray").exists()

  test("lat/lon axes decode to exact 1-degree grids (split + shuffled f4)") {
    assume(available, "reference fixture not present")
    val (latShape, lat) = ZarrSource.readLocalND(s"$fixture/lat")
    val (lonShape, lon) = ZarrSource.readLocalND(s"$fixture/lon")
    assert(latShape == Seq(180) && lonShape == Seq(360))
    assert(lat.head == -89.5 && lat.last == 89.5)
    lat.sliding(2).foreach(p => assert(math.abs(p(1) - p(0) - 1.0) < 1e-6))
    assert(lon.head == -179.5 && lon.last == 179.5)
  }

  test("time axis decodes via the memcpy path to a daily sequence") {
    assume(available, "reference fixture not present")
    val (shape, t) = ZarrSource.readLocalND(s"$fixture/time")
    assert(shape == Seq(32))
    t.sliding(2).foreach(p => assert(p(1) - p(0) == 86400.0, "daily steps"))
    assert(t.head == 9.15192e8) // seconds since 1981-01-01 → 2010-01-01
  }

  test("mask decodes to a plausible ocean fraction") {
    assume(available, "reference fixture not present")
    val (shape, m) = ZarrSource.readLocalND(s"$fixture/mask")
    assert(shape == Seq(180, 360))
    assert(m.forall(v => v == 0.0 || v == 1.0))
    val frac = m.sum / m.length
    assert(frac > 0.5 && frac < 0.8, s"ocean fraction $frac out of range")
  }

  test("extreme_events reads distributed: full cardinality, boolean values") {
    assume(available, "reference fixture not present")
    val df = spark.read.format("zarr").load(s"$fixture/extreme_events")
    assert(df.count() == 32L * 180 * 360)
    assert(df.filter(col("value") =!= 0.0 && col("value") =!= 1.0).count() == 0)
    val frac = df.filter(col("value") === 1.0).count().toDouble / (32L * 180 * 360)
    assert(frac > 0.01 && frac < 0.3, s"extreme fraction $frac out of range")
  }

  // ── write side (round 6): Blosc.compress must produce frames the strict
  // decoder accepts, byte-exactly round-tripping every container case ──────

  private def doubles(n: Int, f: Int => Double): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => buf.putDouble(i * 8, f(i)))
    buf.array()
  }

  test("compress round-trips smooth data at a real compression ratio") {
    val raw = doubles(4096, i => math.floor(i / 37.0)) // long runs per byte plane
    val frame = Blosc.compress(raw, typesize = 8)
    assert(frame.length < raw.length / 2,
      s"smooth data should compress well, got ${frame.length}/${raw.length}")
    assert(java.util.Arrays.equals(Blosc.decompress(frame), raw))
  }

  test("compress falls back to a memcpy frame on incompressible data") {
    val rnd = new java.util.Random(7)
    val raw = new Array[Byte](8192)
    rnd.nextBytes(raw)
    val frame = Blosc.compress(raw, typesize = 8)
    assert(frame.length == raw.length + 16, "memcpy frame = header + raw payload")
    assert((frame(2) & 0x02) != 0, "memcpy flag must be set")
    assert(java.util.Arrays.equals(Blosc.decompress(frame), raw))
  }

  test("compress round-trips multi-block payloads (> 256 KiB) and tails") {
    // 40 000 doubles = 320 000 bytes → 2 blocks of 256 KiB cap; value cycle
    // keeps it compressible so both the LZ4 and stored paths stay honest
    val raw = doubles(40000, i => (i % 97).toDouble)
    val frame = Blosc.compress(raw, typesize = 8)
    assert(frame.length < raw.length)
    assert(java.util.Arrays.equals(Blosc.decompress(frame), raw))
    // length not a multiple of typesize: sub-element tail copied verbatim
    val odd = java.util.Arrays.copyOf(raw, 8 * 1000 + 5)
    assert(java.util.Arrays.equals(Blosc.decompress(Blosc.compress(odd, 8)), odd))
  }

  test("compress handles empty and tiny inputs") {
    assert(Blosc.decompress(Blosc.compress(Array.empty[Byte], 8)).isEmpty)
    val tiny = Array[Byte](1, 2, 3)
    assert(java.util.Arrays.equals(Blosc.decompress(Blosc.compress(tiny, 8)), tiny))
    val one = doubles(1, _ => 42.0)
    assert(java.util.Arrays.equals(Blosc.decompress(Blosc.compress(one, 8)), one))
  }

  test("compress round-trips random typesizes and lengths (property sweep)") {
    val rnd = new java.util.Random(42)
    (1 to 50).foreach { _ =>
      val ts = 1 + rnd.nextInt(16)
      val n = rnd.nextInt(100000)
      val raw = new Array[Byte](n)
      // mixed compressibility: runs of a repeated byte + random spans
      var i = 0
      while (i < n) {
        val runLen = math.min(1 + rnd.nextInt(64), n - i)
        if (rnd.nextBoolean()) {
          val b = rnd.nextInt(256).toByte
          java.util.Arrays.fill(raw, i, i + runLen, b)
        } else (i until i + runLen).foreach(j => raw(j) = rnd.nextInt(256).toByte)
        i += runLen
      }
      val frame = Blosc.compress(raw, ts)
      assert(java.util.Arrays.equals(Blosc.decompress(frame), raw),
        s"round-trip failed at ts=$ts n=$n")
    }
  }
}
