package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `format("hdf5table")` — compound datasets through SQL, with
  * member-level column pruning and limit pushdown. */
class Hdf5TableDataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmpH5(): String = {
    val f = java.io.File.createTempFile("graft_h5tbl", ".h5")
    f.delete()
    f.getAbsolutePath
  }

  private def writeSample(path: String): Unit = {
    val in = Seq(
      ("en", "web", 120.0, 0.91),
      ("de", "web", 45.0, 0.72),
      ("fr", "books", 300.0, 0.88),
      ("en", "books", 7.0, 0.15),
      ("pt", "web", 9.0, 0.5)
    ).toDF("lang", "source", "n_docs", "score")
    NetCDF4Source.writeCompoundTable(in, path, "stats")
  }

  test("schema is inferred from the compound member list") {
    val path = tmpH5()
    writeSample(path)
    val df = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("lang", "string"), ("source", "string"),
        ("n_docs", "double"), ("score", "double")))
  }

  test("full scan returns every record") {
    val path = tmpH5()
    writeSample(path)
    val got = spark.read.format("hdf5table").option("var", "stats").load(path)
      .orderBy("lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 5 && got.head == ("de", "web", 45.0, 0.72))
  }

  test("member-level column pruning reaches the scan") {
    val path = tmpH5()
    writeSample(path)
    val df = spark.read.format("hdf5table").option("var", "stats").load(path)
      .select(sum(col("score")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=score"), s"pruned member set missing from plan:\n$plan")
    assert(math.abs(df.collect().head.getDouble(0) - 3.16) < 1e-9)
  }

  test("limit pushdown lands in the scan and rows still cap correctly") {
    val path = tmpH5()
    writeSample(path)
    val df = spark.read.format("hdf5table").option("var", "stats").load(path).limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=2"), s"pushed limit missing from plan:\n$plan")
    assert(df.count() == 2)
  }

  test("count(*) is answered from the dataspace header (no record decoded)") {
    val path = tmpH5()
    writeSample(path)
    val table = spark.read.format("hdf5table").option("var", "stats").load(path)
    val agg = table.groupBy().count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("MetadataAggScan"), s"metadata count scan missing:\n$plan")
    assert(agg.head.getLong(0) == 5)
    assert(table.count() == 5)
    // a filter blocks the metadata answer — falls back to a real scan
    val f = table.filter(col("n_docs") > 10.0).groupBy().count()
    assert(!f.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert(f.head.getLong(0) == 3) // n_docs 120 / 45 / 300 pass the filter
  }

  test("scan statistics report the exact row count (and the pushed limit)") {
    val path = tmpH5()
    writeSample(path)
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head.computeStats()
    val full = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(statsOf(full).rowCount.contains(BigInt(5)))
    assert(statsOf(full.limit(2)).rowCount.contains(BigInt(2)))
  }

  test("chunked compound tables read back exactly (PyTables' layout)") {
    val path = tmpH5()
    val in = (0 until 23).map(i => (s"doc_$i", i.toDouble, i * 0.5))
      .toDF("name", "n", "score")
    NetCDF4Source.writeCompoundTable(in, path, "stats", chunkRows = Some(5))
    val got = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(got.count() == 23)
    assert(got.orderBy("n").collect().map(_.getString(0)).take(3).toSeq ==
      Seq("doc_0", "doc_1", "doc_2"))
    assert(got.agg(sum("score")).head.getDouble(0) == (0 until 23).map(_ * 0.5).sum)
  }

  test("an elided (never-written) chunk synthesizes default-fill records") {
    val path = tmpH5()
    // rows 5..9 are all-default (0.0 / "") → with a 5-row chunk, chunk 1 is
    // elided from the index entirely, like a PyTables file that never
    // touched those rows
    val in = (0 until 15).map { i =>
      if (i >= 5 && i < 10) ("", 0.0) else (s"doc_$i", i + 0.25)
    }.toDF("name", "score")
    NetCDF4Source.writeCompoundTable(in, path, "stats", chunkRows = Some(5),
      elideDefaultChunks = true)
    val got = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(got.count() == 15, "elided-chunk rows still exist in the dataspace")
    val rows = got.orderBy("score").collect()
    assert(rows.take(5).forall(r => r.getString(0) == "" && r.getDouble(1) == 0.0),
      "absent chunk decodes as default fill")
    assert(got.filter(col("name") === "doc_12").head.getDouble(1) == 12.25)
    // the planned partition count still covers every chunk origin
    assert(got.rdd.getNumPartitions == 3)
  }

  test("a zero-row compound table reads as an empty frame with its schema") {
    val path = tmpH5()
    NetCDF4Source.writeCompoundTable(
      Seq.empty[(String, Double)].toDF("name", "score"), path, "stats")
    val got = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(got.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("name", "string"), ("score", "double")))
    assert(got.collect().isEmpty)
  }

  test("ALL chunks elided still writes a valid (empty) chunk index") {
    // every row all-default → zero chunk entries: the B-tree emits one
    // 0-entry leaf (round-11 regression pin — the two-level refactor
    // briefly crashed on groups.last of an empty chunk list)
    val path = tmpH5()
    val in = (0 until 10).map(_ => ("", 0.0)).toDF("name", "score")
    NetCDF4Source.writeCompoundTable(in, path, "stats", chunkRows = Some(5),
      elideDefaultChunks = true)
    val got = spark.read.format("hdf5table").option("var", "stats").load(path)
    assert(got.count() == 10)
    assert(got.filter(col("name") =!= "" || col("score") =!= 0.0).isEmpty,
      "an empty chunk index reads back as all-fill")
  }

  test("an elided chunk honors the DEFINED fill-value record") {
    val path = tmpH5()
    val n = 10
    // rows 5..9 are all-zero → the 5-row chunk elides; the dataset's
    // DEFINED fill record ("NA", -999.0) must come back for them, not the
    // default zero bytes
    val members: Seq[(String, Hdf5.CompoundCol)] = Seq(
      "name" -> Hdf5.StrCol((0 until n).map(i => if (i < 5) s"d$i" else ""), 4),
      "score" -> Hdf5.F64Col(Array.tabulate(n)(i => if (i < 5) i + 0.5 else 0.0)))
    val fill = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fill.put("NA".getBytes); fill.position(4); fill.putDouble(-999.0)
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("t", Seq(n), Array.empty,
      typed = Some(Hdf5.CompoundData(members)), chunkDims = Some(Seq(5)),
      elideDefaultChunks = true, fillBytes = Some(fill.array()))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val got = spark.read.format("hdf5table").option("var", "t").load(path)
    assert(got.count() == n)
    val elided = got.filter(col("score") === -999.0).collect()
    assert(elided.length == 5 && elided.forall(_.getString(0) == "NA"),
      "absent chunk decodes as the DEFINED fill record")
    assert(got.filter(col("name") === "d3").head.getDouble(1) == 3.5)
  }

  test("a pandas to_hdf-style table (int64 index column, chunked) reads through SQL") {
    val path = tmpH5()
    val n = 12
    // the shape pandas/PyTables `to_hdf(format="table")` stores: a chunked
    // compound with a signed-int64 `index` member ahead of the values
    val members: Seq[(String, Hdf5.CompoundCol)] = Seq(
      "index" -> Hdf5.I64Col(Array.tabulate(n)(_.toLong)),
      "lang" -> Hdf5.StrCol((0 until n).map(i => Seq("en", "de", "fr")(i % 3)), 4),
      "score" -> Hdf5.F64Col(Array.tabulate(n)(_ * 0.5)))
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("df_table", Seq(n), Array.empty,
      typed = Some(Hdf5.CompoundData(members)), chunkDims = Some(Seq(5)))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val got = spark.read.format("hdf5table").option("var", "df_table").load(path)
    assert(got.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("index", "double"), ("lang", "string"), ("score", "double")))
    assert(got.count() == n)
    assert(got.filter(col("index") === 7.0).head.getString(1) == "de")
    assert(got.agg(sum("score")).head.getDouble(0) == (0 until n).map(_ * 0.5).sum)
  }

  test("a nested compound member surfaces as a STRUCT column") {
    val path = tmpH5()
    val n = 3
    val members: Seq[(String, Hdf5.CompoundCol)] = Seq(
      "id" -> Hdf5.I64Col(Array.tabulate(n)(_.toLong + 1)),
      "pos" -> Hdf5.NestedCol(Seq(
        "lat" -> Hdf5.F64Col(Array(10.0, 20.0, 30.0)),
        "lon" -> Hdf5.F64Col(Array(-1.0, -2.0, -3.0)))))
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("t", Seq(n), Array.empty,
      typed = Some(Hdf5.CompoundData(members)))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val got = spark.read.format("hdf5table").option("var", "t").load(path)
    assert(got.schema("pos").dataType.typeName == "struct")
    assert(got.select(col("id"), col("pos.lat"), col("pos.lon"))
      .orderBy("id").collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .toSeq == Seq((1.0, 10.0, -1.0), (2.0, 20.0, -2.0), (3.0, 30.0, -3.0)))
  }

  test("a corrupt lz4 chunk header fails loudly instead of hanging") {
    // defilter is the exposed surface: blockSize <= 0 used to never
    // advance the block loop (infinite hang on untrusted bytes)
    val bb = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putLong(16L).putInt(0).putInt(4) // total=16, blockSize=0 (invalid)
    val e = intercept[IllegalArgumentException](
      Hdf5.defilter(bb.array(), Seq(Hdf5.Filter(32004, Seq.empty)), 0))
    assert(e.getMessage.contains("block size"))
    val bb2 = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb2.putLong(-8L).putInt(4096) // negative declared size
    val e2 = intercept[IllegalArgumentException](
      Hdf5.defilter(bb2.array(), Seq(Hdf5.Filter(32004, Seq.empty)), 0))
    assert(e2.getMessage.contains("decompressed size"))
  }

  test("missing var / non-compound dataset fail with named errors") {
    val path = tmpH5()
    writeSample(path)
    val e1 = intercept[Exception](
      spark.read.format("hdf5table").option("var", "nope").load(path).collect())
    assert(e1.getMessage.contains("nope"))
    val gridPath = tmpH5()
    NetCDF4Source.write3D(
      Seq((0, 0, 0, 1.0)).toDF("t_idx", "y", "x", "value"),
      gridPath, "sst", shape = (1, 1, 1))
    val e2 = intercept[Exception](
      spark.read.format("hdf5table").option("var", "sst").load(gridPath).collect())
    assert(e2.getMessage.contains("not a compound"))
  }
}
