package graft

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** Shared S3-bucket fixture builders for the ingest specs
  * (IngestPipelineSpec, SinkContractSpec) — one `pending/<name>/<entity>`
  * ingest (by default the single entity `person`) with sidecar header,
  * data file, type marker, and manifest. */
object IngestFixtures {

  def writeGz(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new GZIPOutputStream(new FileOutputStream(f))
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  def writeManifest(bucket: String, name: String): Unit = {
    val p = Paths.get(s"$bucket/pending/$name/manifest.json")
    Files.createDirectories(p.getParent)
    Files.writeString(p,
      """{"FileName": "person_headers.csv.gz", "SHA256": "aa"}
        |{"FileName": "person_sample.csv.gz", "SHA256": "bb"}""".stripMargin)
  }

  /** Build `pending/<name>/<entity>/...` for each entity (3 rows each,
    * columns `<entity>_id,name,age`) with marker + optional manifest. */
  def makeIngest(bucket: String, name: String, ingestType: String,
                 withManifest: Boolean = true,
                 entities: Seq[String] = Seq("person")): Unit = {
    entities.foreach { e =>
      writeGz(s"$bucket/pending/$name/$e/${e}_headers.csv.gz",
        s"${e}_id,name,age\n")
      writeGz(s"$bucket/pending/$name/$e/${e}_sample.csv.gz",
        "1,alice,30\n2,bob,40\n3,carol,50\n")
    }
    Files.createDirectories(Paths.get(s"$bucket/pending/$name"))
    Files.writeString(Paths.get(s"$bucket/pending/$name/$ingestType.txt"), "")
    if (withManifest) writeManifest(bucket, name)
  }
}
