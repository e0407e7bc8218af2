package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** S4 — the reference's raw-byte bronze copy
  * (flows/bronze_ingestion.py:30-59: sources bucket → bronze bucket
  * verbatim), on the local-filesystem stand-in the reference itself
  * falls back to when MinIO is absent (flows_spark/config_spark.py:69-74).
  *
  * Bronze's contract is "bytes exactly as received": no parse, no schema,
  * no engine — which is WHY it was out of engine scope; this closes the
  * row anyway as the thin ingest utility a user of the reference would
  * expect to find. Each copy is staged then atomically moved (readers
  * never see a partial object) and verified by sha-256 before the move —
  * the integrity check object stores give for free and a raw `cp` does
  * not. Returns a manifest entry (name, bytes, sha256). At scale this
  * runs per-object on the driver or as a trivial `foreachPartition` over
  * an object listing; there is deliberately nothing distributed to get
  * wrong. */
object Bronze {

  final case class Copied(name: String, bytes: Long, sha256: String)

  private def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Copy one source object into the bronze dir, verbatim + verified.
    * The reference's per-object task loop (bronze_ingestion.py:62-75)
    * is a map of this over the object list; the results are its
    * manifest. */
  def copyToBronze(src: String, bronzeDir: String): Copied = {
    val srcPath = Paths.get(src)
    require(Files.isRegularFile(srcPath), s"no source object at $src")
    val dir = Paths.get(bronzeDir)
    Files.createDirectories(dir)
    val dest = dir.resolve(srcPath.getFileName)
    val staged = dir.resolve("." + srcPath.getFileName + ".staging")
    Files.copy(srcPath, staged, StandardCopyOption.REPLACE_EXISTING)
    val srcSum = sha256(srcPath)
    val stagedSum = sha256(staged)
    require(stagedSum == srcSum,
      s"bronze copy of $src corrupted in flight: $srcSum != $stagedSum")
    Files.move(staged, dest, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    Copied(dest.getFileName.toString, Files.size(dest), srcSum)
  }
}
