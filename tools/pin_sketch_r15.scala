// Round-15 pin recorder (the tools/pin_ter_r14.scala doctrine, applied to
// the four remaining sketch exemptions): print the sf0.01 xxhash64-family
// sketch outputs as Scala literal lines for graft.model.SketchPins.
//   - q_minhash_lsh: multi-doc band groups (singleton buckets generate no
//     pairs, so only groups are pinned) + the full 32-lane signatures of
//     the docs in those groups — DuckDB replays pair-join, eq-count and
//     threshold mechanically;
//   - q_simhash: the 500 per-doc 64-bit signatures;
//   - q_image_dedup / q_audio_dedup: the 500 perceptual hashes (dHash /
//     audio energy-gradient hash) — DuckDB replays the 4x16-bit banded
//     Hamming join, bit_count rescore and min-band ownership mechanically.
//     These two are sf-INDEPENDENT (synthetic media from pure id hashing).
// Run: /opt/spark/bin/spark-shell --master 'local[8]' \
//   --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=8 \
//   --driver-class-path /root/repo/target/scala-2.13/classes \
//   -I /root/repo/tools/pin_sketch_r15.scala
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal}
import graft.Tables

val docs = Tables.documents(spark, "/root/testdata/sf0.01")

// --- q_minhash_lsh (shingleK=3, numHashes=32, bands=8, the query params)
val sigs = Dedup.minHashSignatures(docs, 3, 32)
  .where(element_at(col("sig"), 1) =!= Long.MaxValue)
  .localCheckpoint()
val banded = (sigs.select(col("doc_id"),
    posexplode(Dedup.bandHashes(col("sig"), 32, 8)))
  .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
// NB: every multi-line chain is paren-wrapped — the -I REPL ends a
// statement on any line that parses complete, so an unwrapped chain
// with leading dots splits mid-expression
val groups = (banded.groupBy("band", "bucket")
  .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
    count(lit(1)).as("c"))
  .where(col("c") >= 2)
  .orderBy("band", "bucket")
  .select(col("ids")).collect().map(_.getSeq[Long](0)))
println("=== MINHASH_GROUPS_PINNED ===")
groups.zipWithIndex.foreach { case (ids, g) =>
  println(s"$g:${ids.mkString(",")}")
}
val groupedDocs = groups.flatten.distinct.sorted
println("=== MINHASH_SIGS_PINNED ===")
(sigs.where(col("doc_id").isin(groupedDocs: _*))
  .orderBy("doc_id")
  .collect()
  .foreach(r => println(s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}")))

// --- q_simhash
println("=== SIMHASH_PINNED ===")
Dedup.simHash(docs).orderBy("doc_id").collect()
  .foreach(r => println(s"${r.getLong(0)}:${r.getLong(1)}"))

// --- q_image_dedup (dHash over the 500 synthetic PPMs)
println("=== IMAGE_DH_PINNED ===")
Multimodal.syntheticPpm(spark, 500)
  .select(col("media_id"), Multimodal.imageDHash(col("blob")).as("dh"))
  .where(col("dh").isNotNull).orderBy("media_id").collect()
  .foreach(r => println(s"${r.getLong(0)}:${r.getLong(1)}"))

// --- q_audio_dedup (energy-gradient hash over the 500 synthetic WAVs)
println("=== AUDIO_DH_PINNED ===")
Multimodal.syntheticWav(spark, 500)
  .select(col("media_id"), Multimodal.audioHash(col("blob")).as("dh"))
  .where(col("dh").isNotNull).orderBy("media_id").collect()
  .foreach(r => println(s"${r.getLong(0)}:${r.getLong(1)}"))
println("=== END ===")
sys.exit(0)
