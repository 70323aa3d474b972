package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-(sf, code-version) materialization of the media gates'
  * planted payload tables (r12 judge directive #4).
  *
  * The media-gate queries (q108–q112) spend most of their wall time
  * ENCODING their fixture payloads — q111 runs 15 JPEG FDCT encodes
  * per doc on every evaluation — which buries the decoder-under-test
  * in the benchmark rows (the per-format signal lives in decode_mps
  * instead, PLANS.md r12). The plant is deterministic by construction
  * (the DuckDB oracle depends on it), so it is safe to materialize
  * each gate's (media_id, …, payload) table ONCE into a parquet
  * directory under the session warehouse and serve every later
  * evaluation from the scan: query rows then time plant-read + decode
  * + join — the operator — not the fixture encode.
  *
  * Invalidation is automatic, not manual: the cache key includes a
  * fingerprint of EVERY classfile in the library build (the directory
  * or jar this class loaded from). Any recompile that changes any
  * bytecode — a builder tweak, a new census variant, an unrelated
  * operator — produces a new fingerprint and a fresh plant, so a
  * stale cache can never ship payloads that disagree with the current
  * code. The cost of that conservatism is one extra plant build after
  * each code change, which is exactly the pre-cache per-run cost.
  * Stale fingerprint directories for the same (gate, sf) are deleted
  * on rebuild so the warehouse does not accumulate dead plants. */
object MediaPlantCache {

  /** 16-hex-char fingerprint of the loaded build: every .class under
    * the code-source directory (path + bytes, sorted), or the jar
    * bytes when packaged. Computed once per JVM. */
  lazy val codeFingerprint: String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    val src = getClass.getProtectionDomain.getCodeSource
    require(src != null && src.getLocation != null,
      "media plant cache needs a code-source location to fingerprint")
    val root = java.nio.file.Paths.get(src.getLocation.toURI)
    if (java.nio.file.Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try {
        walk.iterator().asScala
          .filter(_.toString.endsWith(".class"))
          .map(p => (root.relativize(p).toString, p))
          .toSeq.sortBy(_._1)
          .foreach { case (rel, p) =>
            h.update(rel.getBytes("UTF-8"))
            h.update(java.nio.file.Files.readAllBytes(p))
          }
      } finally walk.close()
    } else h.update(java.nio.file.Files.readAllBytes(root))
    h.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def warehouseRoot(s: SparkSession): java.nio.file.Path = {
    val conf = s.conf.get("spark.sql.warehouse.dir")
    val p =
      if (conf.startsWith("file:"))
        java.nio.file.Paths.get(new java.net.URI(conf))
      else java.nio.file.Paths.get(conf)
    p.resolve("media_plant")
  }

  /** Serve `name`'s plant from the warehouse cache, building (and
    * persisting) it on first use for this (sf, code fingerprint).
    * The read is re-spread by [[graft.Tables.spreadFiles]], the same way
    * [[graft.Tables.parallel]] spreads the unsplittable testdata
    * files — the downstream decode is per-row expensive. */
  def cached(s: SparkSession, sfDir: String, name: String)
      (build: => DataFrame): DataFrame = synchronized {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
      .dropWhile(_ == '_')
    val root = warehouseRoot(s)
    val prefix = s"${name}_$sfTag"
    val dir = root.resolve(s"${prefix}_$codeFingerprint")
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
      // drop plants of the same gate+sf built from older code
      if (java.nio.file.Files.isDirectory(root)) {
        import scala.jdk.CollectionConverters._
        val stale = java.nio.file.Files.list(root)
        try stale.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(prefix + "_") &&
            p != dir)
          .toSeq.foreach(deleteRecursively)
        finally stale.close()
      }
      build.write.mode("overwrite").parquet(dir.toString)
    }
    graft.Tables.spreadFiles(s.read.parquet(dir.toString))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val children = java.nio.file.Files.list(p)
      try children.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally children.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}
