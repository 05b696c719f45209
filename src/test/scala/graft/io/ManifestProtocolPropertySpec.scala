package graft.io

import java.nio.file.{Files, Paths}

/** Model-based randomized protocol check for [[Manifest]] — the one
  * layer every persisted family now rests on, so beyond the scenario
  * specs it gets the InvariantPropertySpec treatment: hundreds of
  * seeded random op sequences (commitAdd with adds+drops, commitSet,
  * empty commits, orphan injection, vacuum at random retention)
  * executed against a trivial reference model, with the full contract
  * checked after every step:
  *  - `current` equals the model's newest version exactly;
  *  - `versions` equals the model's horizon (vacuum trims it to the
  *    retained window, nothing else touches it);
  *  - `at(v)` serves every retained version's exact file list and
  *    returns None for expired/never-committed versions;
  *  - every file any retained version references EXISTS on disk
  *    (pinned readers never lose bytes before the declared expiry);
  *  - after a vacuum, the on-disk file set equals the union of the
  *    retained versions' lists exactly — retired files, expired
  *    versions' exclusive files, and never-committed orphans are gone.
  *
  * Driver-side filesystem ops only (the manifest plane never touches
  * executors), so hundreds of steps run in seconds. */
class ManifestProtocolPropertySpec extends graft.SparkSpec {

  private def mkFile(root: String, rel: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array[Byte](80, 65, 82, 49)): Unit // "PAR1"
  }

  private def diskFiles(root: String): Set[String] = {
    val base = Paths.get(root, "rows")
    if (!Files.exists(base)) Set.empty
    else {
      val out = scala.collection.mutable.Set.empty[String]
      Files.walk(base).forEach { p =>
        if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          out += Paths.get(root).relativize(p).toString
      }
      out.toSet
    }
  }

  test("random op sequences hold the snapshot contract against the model (3 seeds x 120 steps)") {
    for (seed <- Seq(7, 101, 4242)) {
      val rnd = new scala.util.Random(seed)
      val root = graft.SparkSpec.tempDir(s"graft-man-prop-$seed").toString
      var counter = 0
      def freshFiles(k: Int): Seq[String] = (0 until k).map { _ =>
        counter += 1
        val rel = f"rows/__graft_bucket=${rnd.nextInt(8)}/f$counter%06d.parquet"
        mkFile(root, rel)
        rel
      }
      // the model: committed versions still on disk, ascending
      var history = Vector.empty[(Long, Set[String])]
      def live: Set[String] = history.lastOption.map(_._2).getOrElse(Set.empty)

      // bootstrap: v1 from an initial listing (the migration shape)
      freshFiles(1 + rnd.nextInt(4))
      val v1 = Manifest.initFromListing(spark, root, Seq("rows"))
      history :+= (v1.version, v1.files.toSet)

      for (step <- 1 to 120) {
        rnd.nextInt(10) match {
          case n if n <= 4 => // commitAdd: adds + random drops
            val add = freshFiles(1 + rnd.nextInt(3))
            val drop = rnd.shuffle(live.toSeq).take(rnd.nextInt(3))
            val snap = Manifest.commitAdd(spark, root, add, drop)
            history :+= (snap.version, live -- drop ++ add)
          case 5 => // empty mutation: must be a version no-op
            val before = live
            val snap = Manifest.commitAdd(spark, root, Nil, Nil)
            assert(snap.version === history.last._1,
              s"seed=$seed step=$step: empty commit churned a version")
            assert(snap.files.toSet === before)
          case 6 => // commitSet: explicit live set (the gen-flip shape)
            val keep = rnd.shuffle(live.toSeq).take(live.size / 2)
            val add = freshFiles(1 + rnd.nextInt(3))
            val files = keep ++ add
            val snap = Manifest.commitSet(spark, root, files,
              retire = (live -- keep).toSeq)
            history :+= (snap.version, files.toSet)
          case 7 => // torn run: orphan bytes no snapshot references
            freshFiles(1 + rnd.nextInt(2)): Unit
          case _ => // vacuum at random retention
            val retain = rnd.nextInt(4)
            Manifest.vacuum(spark, root, Seq("rows"),
              retainVersions = retain)
            history = history.takeRight(retain + 1)
            val expectDisk = history.flatMap(_._2).toSet
            assert(diskFiles(root) === expectDisk,
              s"seed=$seed step=$step: post-vacuum disk != union of " +
                "retained versions")
        }
        // the standing contract, after EVERY op
        val cur = Manifest.current(spark, root).get
        assert(cur.version === history.last._1, s"seed=$seed step=$step")
        assert(cur.files.toSet === history.last._2, s"seed=$seed step=$step")
        assert(Manifest.versions(spark, root) === history.map(_._1),
          s"seed=$seed step=$step: horizon mismatch")
        history.foreach { case (v, files) =>
          val at = Manifest.at(spark, root, v)
          assert(at.map(_.files.toSet) === Some(files),
            s"seed=$seed step=$step: at($v) diverged from the model")
          val missing = files.filterNot(f => Files.exists(Paths.get(root, f)))
          assert(missing.isEmpty,
            s"seed=$seed step=$step: retained v$v lost bytes: $missing")
        }
        assert(Manifest.at(spark, root, history.last._1 + 1) === None)
      }
    }
  }
}
