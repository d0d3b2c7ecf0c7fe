package graft

import java.nio.file.{Files, Path}

/** The one-time-build policy: one build per (app, dir, label), a store
  * without its marker is rebuilt, and nothing another application left
  * on disk is ever served.
  */
class MemoSpec extends SparkSpec {

  private def write(p: Path, text: String): Unit = Files.write(p, text.getBytes("UTF-8"))

  /** A fresh fixture-dir key per test, so runs never share memo entries. */
  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-memo-spec")
    try body(dir.toString) finally Memo.deleteRecursively(dir)
  }

  test("two frame and two store calls in one app run each build once") {
    withDir { dir =>
      var frames = 0
      def frame = Memo.frame(spark, dir, "memo_spec_frame") {
        frames += 1
        spark.range(3).toDF()
      }
      assert(frame eq frame)
      assert(frames === 1)

      var stores = 0
      def store = Memo.store(spark, dir, "memo_spec_store") { p =>
        stores += 1
        write(p.resolve("part"), "built")
      }
      val p = store
      try {
        assert(store === p)
        assert(stores === 1)
        assert(new String(Files.readAllBytes(p.resolve("part")), "UTF-8") === "built")
      } finally Memo.deleteRecursively(p)
    }
  }

  test("a store without its marker is wiped and rebuilt") {
    withDir { dir =>
      val label = "memo_spec_partial"
      // a build that fails leaves no marker behind
      intercept[IllegalStateException] {
        Memo.store(spark, dir, label) { p =>
          write(p.resolve("debris"), "half")
          throw new IllegalStateException("interrupted build")
        }
      }
      var builds = 0
      val p = Memo.store(spark, dir, label) { p =>
        builds += 1
        assert(!Files.exists(p.resolve("debris")), "rebuild must start from an empty store")
        write(p.resolve("part"), "whole")
      }
      try {
        assert(builds === 1)
        assert(Files.exists(p.resolve(Memo.Marker)))
        // losing the marker later forces the same wipe
        Files.delete(p.resolve(Memo.Marker))
        write(p.resolve("debris"), "stale")
        Memo.store(spark, dir, label) { q =>
          builds += 1
          assert(!Files.exists(q.resolve("debris")) && !Files.exists(q.resolve("part")))
        }
        assert(builds === 2)
      } finally Memo.deleteRecursively(p)
    }
  }

  test("a store completed under another applicationId is never read") {
    withDir { dir =>
      val label = "memo_spec_cross_app"
      val earlier = Memo.storePath("local-earlier-run", dir, label)
      Files.createDirectories(earlier)
      write(earlier.resolve("part"), "earlier run")
      write(earlier.resolve(Memo.Marker), "")
      var builds = 0
      val p = Memo.store(spark, dir, label) { p =>
        builds += 1
        write(p.resolve("part"), "this run")
      }
      try {
        assert(builds === 1)
        assert(p !== earlier)
        assert(new String(Files.readAllBytes(p.resolve("part")), "UTF-8") === "this run")
      } finally Seq(p, earlier).foreach(Memo.deleteRecursively)
    }
  }
}
