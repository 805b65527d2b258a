package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

/** Process-local get-or-replace memo over values derived from files.
  *
  * Keyed on the LOGICAL key, with the input's [[Memo.stamp]] stored in
  * the value: a regenerated input replaces its entry instead of
  * accumulating one per stamp, so the memo stays bounded by its
  * logical keys. Every lookup walks the input exactly once.
  *
  * get + putIfAbsent, NOT computeIfAbsent: builds NEST (the md5 pair
  * artifact reads the shingle artifact), and a nested computeIfAbsent
  * on the same ConcurrentHashMap throws IllegalStateException("Recursive
  * update") whenever the two keys share a bin. The worst case is two
  * threads building the same entry concurrently; one wins the
  * putIfAbsent and both return a consistent value. */
private[graft] final class Memo[V] {
  private val entries = new ConcurrentHashMap[String, (String, V)]()

  /** The value memoized under `key` for the current stamp of `path`,
    * else `build(stamp)`, which replaces any entry of an older stamp. */
  def apply(key: String, path: String)(build: String => V): V = {
    val stamp = Memo.stamp(path)
    val got = entries.get(key)
    if (got != null && got._1 == stamp) got._2
    else {
      val v = build(stamp)
      if (got == null) {
        val prev = entries.putIfAbsent(key, (stamp, v))
        if (prev != null && prev._1 == stamp) prev._2
        else { entries.put(key, (stamp, v)); v }
      } else { entries.put(key, (stamp, v)); v }
    }
  }
}

private[graft] object Memo {

  /** Identity stamp of a path (file OR directory): inode fileKey, size
    * and ns-mtime per regular file. The inode is the load-bearing
    * field — an overwrite recreates every part file, so identity
    * changes even inside one mtime tick. A directory's stamp is the md5
    * of its sorted `relative-path:inode:size:mtime` entries (not a
    * 32-bit hashCode: a collision would silently serve a stale value,
    * the exact failure the stamp closes); artifact keys and the
    * bucketed-store table names are derived from it. A missing path
    * stamps as "absent". */
  def stamp(path: String): String = {
    val p = Paths.get(path)
    def one(f: Path): String = {
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      val inode = Option(a.fileKey).map(_.toString).getOrElse("nokey")
      s"$inode:${a.size}:${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}"
    }
    if (Files.isRegularFile(p)) one(p)
    else if (Files.isDirectory(p)) {
      val walk = Files.walk(p)
      try {
        val entries = new java.util.ArrayList[String]()
        walk.filter(f => Files.isRegularFile(f))
          .forEach(f => entries.add(p.relativize(f).toString + ":" + one(f)))
        java.util.Collections.sort(entries)
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(String.join("\n", entries).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      } finally walk.close()
    } else "absent"
  }
}
