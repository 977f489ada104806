package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Storage-pruning proof for the persisted IVF inverted file: written
  * PARTITIONED BY (cell), a probe of nProbe cells must plan partition
  * PRUNING (`PartitionFilters` on the scan — directories never read),
  * not a full scan with a post-filter, and searching the pruned index
  * must return exactly what the in-memory index returns.
  */
class IvfStorageSpec extends SparkSpec {
  import spark.implicits._

  test("PQ code index partitioned by cell: dynamic pruning + identical IVF-PQ results") {
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    val emb = graft.Tables.embeddings(spark, sf("sf0.001"))
    val vectors = emb.select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val coarse = Ivf.kmeans(vectors, nCells = 8, iterations = 2)
    val assigned = Ivf.index(emb, coarse).localCheckpoint(true)
    val resid = assigned.join(broadcast(coarse), "cell")
      .select($"vec_id", $"cell",
        zip_with($"v", $"centroid", (x, c) => x - c).as("v"))
      .localCheckpoint(true)
    val books = Pq.trainCodebooks(resid.select($"vec_id", $"v"),
      dim = 64, numSubspaces = 8, numCodes = 16)
    val enc = Pq.encode(resid.select($"vec_id", $"v"), books,
        dim = 64, numSubspaces = 8)
      .join(resid.select($"vec_id", $"cell"), "vec_id")
    graft.sources.ParquetSink.writePartitioned(enc, dir, Seq("cell"))

    // layout: one directory per cell — the serving index is bytes per
    // vector AND storage-pruned per probe
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).sorted
    assert(subdirs.nonEmpty, s"expected cell= partition dirs, got ${subdirs.toSeq}")

    val onDisk = spark.read.parquet(dir)
    val probes = emb.filter($"vec_id" < 2).select($"vec_id".as("probe_id"),
      Similarity.toDouble($"embedding").as("q"))
    val diskKnn = Pq.ivfPqKnn(assigned, coarse, books, onDisk, probes,
      dim = 64, numSubspaces = 8, nProbe = 3, k = 5, shortlist = 20)
    // the broadcast (probe, cell) lookup-table join on the partition
    // column must plan DYNAMIC partition pruning: only the nProbe
    // probed cells' directories are read at runtime, the rest are never
    // listed, opened, or scheduled
    val plan = diskKnn.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"cell join must dynamically prune the partitioned code index:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters"))
          .mkString("\n").take(2000))
    // and the pruned path returns exactly what the in-memory index does
    val fromDisk = diskKnn.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromMem = Pq.ivfPqKnn(assigned, coarse, books, enc, probes,
        dim = 64, numSubspaces = 8, nProbe = 3, k = 5, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk === fromMem)
  }

  test("inverted file partitioned by cell prunes probe reads and preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    val emb = graft.Tables.embeddings(spark, sf("sf0.001"))
    val vectors = emb.select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val centroids = Ivf.kmeans(vectors, nCells = 8, iterations = 2)
    val indexed = Ivf.index(emb, centroids)
    Ivf.writeIndex(indexed, dir)

    // directory layout is one subdir per cell
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).sorted
    assert(subdirs.nonEmpty, s"expected cell= partition dirs, got ${subdirs.toSeq}")

    val onDisk = spark.read.parquet(dir)
    val probedCells = Seq(subdirs.head, subdirs.last)
      .map(_.stripPrefix("cell=").toInt)
    val pruned = onDisk.filter($"cell".isin(probedCells: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    // the cell predicate must be a PartitionFilter on the scan, and must
    // NOT degrade to a data Filter over a full read
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(plan).isDefined,
      s"cell filter must prune partitions:\n${plan.take(2500)}")
    assert(!plan.contains("PushedFilters: [In(cell"),
      "cell is a partition column; it must never reach the row-group filter")

    // correctness: the pruned read is exactly the matching index slice
    val expected = indexed.filter($"cell".isin(probedCells: _*))
      .select($"vec_id").collect().map(_.getLong(0)).sorted
    val got = pruned.select($"vec_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expected))

    // and KNN over the persisted index matches KNN over the in-memory one
    val probes = emb.filter($"vec_id" < 2)
    val diskKnn = Ivf.knn(onDisk, centroids, probes, k = 5, nProbe = 3)
    val fromDisk = diskKnn
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromMem = Ivf.knn(indexed, centroids, probes, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk === fromMem)

    // the probe join key must stay the partition column's own type — a
    // widened key would PROJECT cast(cell as bigint) on the index side
    // of the join and defeat partition-level pruning. (The tiny
    // centroid-side cast inside the top-k aggregate's input is benign.)
    val knnPlan = diskKnn.queryExecution.executedPlan.toString
    assert("cast\\(cell#\\d+ as bigint\\) AS".r.findFirstIn(knnPlan).isEmpty,
      s"probe join must not re-key the partition column:\n${knnPlan.take(2500)}")
  }
}
