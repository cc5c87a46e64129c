package graft

/** The repo's main Scala sources as `path → text`, for the file-check specs
  * that keep one rule in one place (DrainSkeletonSpec,
  * DriverGuardIdiomSpec). */
object MainSources {
  def read(): Map[String, String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"src/main/scala not found at ${root.toAbsolutePath}")
    val s = java.nio.file.Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
      .toMap
    finally s.close()
  }
}
