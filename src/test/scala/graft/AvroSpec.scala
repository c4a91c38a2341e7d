package graft

import org.apache.avro.Schema

import graft.sources.Avro

/** Zero-dep Avro source: typed roundtrip, multi-file reads, and loud
  * rejection of the shapes it does not support. */
class AvroSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "avro").toString

  test("typed roundtrip: long/string/double/boolean across two files") {
    val root = tmp()
    val fields = Seq("id" -> Schema.Type.LONG, "name" -> Schema.Type.STRING,
      "score" -> Schema.Type.DOUBLE, "ok" -> Schema.Type.BOOLEAN)
    Avro.write(s"$root/a.avro", "t", fields,
      Seq(Seq(1L, "alpha", 1.5, true), Seq(2L, "beta", -0.25, false)))
    Avro.write(s"$root/b.avro", "t", fields,
      Seq(Seq(3L, "gamma", 0.0, true)))
    val got = Avro.read(spark, root).orderBy("id")
      .as[(Long, String, Double, Boolean)].collect().toSeq
    assert(got == Seq((1L, "alpha", 1.5, true), (2L, "beta", -0.25, false),
      (3L, "gamma", 0.0, true)))
    // schema peek matches the Spark-side types
    val sch = Avro.readSchema(root)
    assert(sch.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("id", "bigint"), ("name", "string"), ("score", "double"),
        ("ok", "boolean")))
  }

  test("empty directory and nested schemas are rejected loudly") {
    intercept[IllegalArgumentException] { Avro.readSchema(tmp()) }
    // hand-build a file with an array field — flat-record readers must
    // refuse it rather than misread it
    val root = tmp()
    val nested = org.apache.avro.SchemaBuilder.record("n").fields()
      .name("xs").`type`().array().items().longType().noDefault()
      .endRecord()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](nested))
    w.create(nested, new java.io.File(s"$root/n.avro"))
    val rec = new org.apache.avro.generic.GenericData.Record(nested)
    rec.put("xs", java.util.List.of(1L, 2L))
    w.append(rec); w.close()
    intercept[IllegalArgumentException] { Avro.readSchema(root) }
  }
}
