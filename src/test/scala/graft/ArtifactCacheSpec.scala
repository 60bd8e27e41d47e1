package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{ArtifactCache, DriverCutover}

/** The one cache-key derivation: `ArtifactCache.key` must change with
  * the input, every runtime parameter and the engine's code, keep the
  * per-input entry prefix cleanup relies on, and an artifact published
  * under another code fingerprint must be rebuilt, never served.
  */
class ArtifactCacheSpec extends SparkSpec {

  private val family = "spec-artifactcache"

  /** A throwaway input dir holding one `in.parquet` file. */
  private def withInput(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft ac-spec").toFile
    try {
      Files.write(new File(dir, "in.parquet").toPath, "v1".getBytes("UTF-8"))
      body(dir.getPath)
    } finally {
      ArtifactCache.deleteRecursively(dir)
      Option(new File(s"/tmp/graft-$family").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(dir.getPath.replaceAll("[^A-Za-z0-9.]+", "_") + "-"))
        .foreach(ArtifactCache.deleteRecursively)
    }
  }

  test("codeFingerprint is a non-empty MD5, stable within a JVM") {
    val code = ArtifactCache.codeFingerprint
    assert(code.matches("[0-9a-f]{32}"), code)
    assert(ArtifactCache.codeFingerprint == code)
  }

  test("key is deterministic and ends in the code fingerprint") {
    withInput { dir =>
      val k = ArtifactCache.key(family, dir, "in.parquet", 5, 0.9)
      assert(k == ArtifactCache.key(family, dir, "in.parquet", 5, 0.9))
      assert(k.endsWith(s"-${ArtifactCache.codeFingerprint}"))
      assert(k == ArtifactCache.keyFor(ArtifactCache.codeFingerprint,
        family, dir, "in.parquet", 5, 0.9))
    }
  }

  test("key changes with the input fingerprint, each runtime parameter and the code") {
    withInput { dir =>
      val base = ArtifactCache.keyFor("c0", family, dir, "in.parquet", 5, 0.9)
      assert(ArtifactCache.keyFor("c0", family, dir, "in.parquet", 6, 0.9) != base)
      assert(ArtifactCache.keyFor("c0", family, dir, "in.parquet", 5, 0.95) != base)
      assert(ArtifactCache.keyFor("c0", family, dir, "in.parquet", 5) != base)
      assert(ArtifactCache.keyFor("c1", family, dir, "in.parquet", 5, 0.9) != base)
      // a regenerated input (new length) changes the fingerprint
      Files.write(new File(dir, "in.parquet").toPath, "v2-longer".getBytes("UTF-8"))
      assert(ArtifactCache.keyFor("c0", family, dir, "in.parquet", 5, 0.9) != base)
    }
  }

  test("a set driver cutover cap changes the key; unset, the key is unchanged") {
    withInput { dir =>
      assert(spark.conf.getOption(DriverCutover.MaxRowsKey).isEmpty)
      val unset = ArtifactCache.key(family, dir, "in.parquet", 5)
      assert(unset == ArtifactCache.keyFor(ArtifactCache.codeFingerprint,
        family, dir, "in.parquet", 5))
      val forced = withConf(DriverCutover.MaxRowsKey -> "0")(
        ArtifactCache.key(family, dir, "in.parquet", 5))
      val lowered = withConf(DriverCutover.MaxRowsKey -> "1000")(
        ArtifactCache.key(family, dir, "in.parquet", 5))
      assert(Set(unset, forced, lowered).size == 3)
      assert(forced.startsWith(unset), "the per-input entry prefix must not change")
      assert(ArtifactCache.key(family, dir, "in.parquet", 5) == unset)
    }
  }

  test("entry name starts with the sanitized dir and '-' under /tmp/graft-<family>") {
    withInput { dir =>
      val f = new File(ArtifactCache.key("neardup", dir, "in.parquet", 0.95))
      assert(f.getParent == "/tmp/graft-neardup")
      val sanitized = dir.replaceAll("[^A-Za-z0-9.]+", "_")
      assert(!sanitized.contains(" ") && !sanitized.contains("/"))
      assert(f.getName.startsWith(sanitized + "-"), f.getName)
    }
  }

  test("an artifact published under another code fingerprint is rebuilt, not served") {
    withInput { dir =>
      def publish(path: String): String = ArtifactCache.ensure(path) { tmp =>
        Files.createDirectories(new File(tmp).toPath)
        Files.write(new File(tmp, "built-by").toPath, path.getBytes("UTF-8"))
      }
      val stale = ArtifactCache.keyFor("0" * 32, family, dir, "in.parquet")
      publish(stale)
      assert(ArtifactCache.isDone(stale))
      val b0 = ArtifactCache.ensureBuilds.get()
      val current = publish(ArtifactCache.key(family, dir, "in.parquet"))
      assert(ArtifactCache.ensureBuilds.get() == b0 + 1)
      assert(current != stale)
      assert(new String(Files.readAllBytes(new File(current, "built-by").toPath),
        "UTF-8") == current)
      // the current artifact is then served: a hit, no build
      val h0 = ArtifactCache.ensureHits.get()
      publish(ArtifactCache.key(family, dir, "in.parquet"))
      assert(ArtifactCache.ensureBuilds.get() == b0 + 1)
      assert(ArtifactCache.ensureHits.get() == h0 + 1)
    }
  }
}
