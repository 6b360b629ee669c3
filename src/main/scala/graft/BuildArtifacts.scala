package graft

/** One-shot artifact builder: trains the Word2Vec encoder on a corpus
  * snapshot and persists it as the tracked serving artifact
  * ([[graft.operators.VectorStore.w2vEmbedder]] loads it when its
  * corpus fingerprint matches — the train-once/serve-forever
  * discipline; QdrantCloud.py:20-22's pretrained-encoder role in batch
  * form). Deterministic end-to-end (pinned seed + single-partition
  * fit), so regenerating over unchanged data is a byte-stable no-op.
  *
  * Usage: runMain graft.BuildArtifacts <sfDir> [artifactsRoot]
  *   e.g. runMain graft.BuildArtifacts /root/testdata/sf0.1 artifacts/w2v
  */
object BuildArtifacts {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outRoot = if (args.length > 1) args(1) else "artifacts/w2v"
    val spark = Sessions.local(Sessions.cores(4))
    // the fingerprint scan and the (pinned-seed, single-partition) fit
    // are independent corpus passes — only the artifact DIR name needs
    // the fingerprint — so they overlap (guide §2.6; profiled r14: the
    // fingerprint aggregate was the tool's largest slice, ahead of the
    // fit itself). Values untouched: both are deterministic alone.
    val Seq(fpAny, encAny) = graft.plans.Par.run(Seq[() => Any](
      () => operators.VectorStore.w2vCorpusFingerprint(spark, sfDir),
      () => graft.api.Word2VecEmbedder.train(
        Tables.documents(spark, sfDir).select("doc_id", "text"))))
    val fp = fpAny.asInstanceOf[String]
    val enc = encAny.asInstanceOf[graft.api.Word2VecEmbedder]
    // the SAME dir naming the serving path resolves (basename +
    // corpus-fingerprint hash — see VectorStore.w2vArtifactDir)
    val dir = operators.VectorStore.w2vArtifactDir(outRoot, sfDir, fp)
    // rebuild tool: replace wholesale (the serving path only ever READS)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (dir.exists()) rm(dir)
    dir.mkdirs()
    enc.save(new java.io.File(dir, "vectors").toString)
    java.nio.file.Files.write(new java.io.File(dir, "corpus.fp").toPath,
      fp.getBytes("UTF-8"))
    println(s"[artifacts] w2v for $sfDir -> $dir (corpus.fp $fp, " +
      s"${enc.wordVectors.count()} words)")
    spark.stop()
  }
}
