package graft

import org.apache.hadoop.conf.Configuration

/** The engine's one Hadoop `Configuration` for its own file access: the
  * chunkers' footer and range reads, the restore and digest writers, the
  * export markers and content keys, and the driver-side store, corpus and
  * directory listings. Spark's own readers and writers keep the session's
  * conf; engine code that opens a `FileSystem` itself uses this one.
  *
  * A fresh `new Configuration()` re-parses the Hadoop XML defaults on its
  * first read: a `getFileSystem(conf).getFileStatus` call took 7.3–9.8 ms
  * with a fresh instance in a warm JVM, against 0.04–0.07 ms with one
  * shared instance (SCALE.md, "Compile once, configure once"). The
  * chunkers need one per file, per hash bucket and per restore partition.
  * Built on first use, once per JVM (driver or executor), and never
  * mutated: Hadoop's defaults plus site files, exactly what a fresh
  * instance holds. A caller that needs other settings copies it
  * (`new Configuration(HadoopConf.shared)`).
  *
  * A `Configuration` keeps the class loader it is given (by default the
  * building thread's context loader) and resolves classes and `FileSystem`
  * implementations through it for life. The first thread to touch this
  * object may be an executor task thread, whose context loader belongs to
  * one Spark session; so the loader is pinned to the one that loaded the
  * engine, whichever thread builds it.
  */
object HadoopConf {
  val shared: Configuration = {
    val c = new Configuration()
    c.setClassLoader(getClass.getClassLoader)
    c
  }
}
