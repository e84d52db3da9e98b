package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** INCREMENTAL skyline maintenance — [[Skyline]] as at-rest state a
  * micro-batch stream can fold into without corpus rescans. Sound
  * because the skyline operator absorbs its own output:
  * skyline(A ∪ B) = skyline(skyline(A) ∪ B) — a point undominated in
  * the union is undominated in A (so it survived phase A), and a
  * dominated point stays dominated because domination is transitive
  * (its dominator may itself be dominated, but then THAT dominator's
  * dominator also dominates it, and the chain ends inside
  * skyline(A) ∪ B). So per batch the whole state recomputes from
  * (state ∪ batch) — and the state is skyline-sized, not
  * corpus-sized, so the recompute is the cheap side of the merge.
  *
  * APPEND-ONLY id contract: rows are keyed and deduplicated by
  * `keyCol` (first writer wins is irrelevant — re-deliveries carry
  * identical metric vectors), which is what makes a replayed trigger
  * a bit-exact no-op with NO commit marker (the [[graft.streaming.StreamDistinct]]
  * argument): dedup absorbs the duplicate rows, the skyline of the
  * same input is the same frame, and [[Layouts.publish]]'s staged
  * rename keeps every reader on a complete layout through the swap.
  * An id whose metrics CHANGE across deliveries is an update, not an
  * append — that needs [[Forget]]-style deletion first, same as every
  * other at-rest layout here.
  *
  * Geometry (dims + key) freezes in a sidecar at [[save]]: a probe or
  * add against different objective columns would silently maintain a
  * DIFFERENT frontier — the [[Decontam]] frozen-width discipline.
  */
object SkyState {

  /** Initialize the state with `df`'s skyline; freezes (key, dims). */
  def save(df: DataFrame, dir: String, keyCol: String, dims: Seq[String]): Unit = {
    val spark = df.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layouts.writeSidecar(fs, new Path(s"$dir/_geometry"),
      (keyCol +: dims).mkString("\n") + "\n")
    Skyline.of(df.dropDuplicates(keyCol), dims)
      .write.mode("overwrite").parquet(s"$dir/sky")
  }

  /** Fold one batch into the frontier: state ← skyline(state ∪ batch). */
  def add(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    val (keyCol, dims) = geometry(spark, dir)
    Layouts.recoverPublished(spark, s"$dir/sky")
    val cur = spark.read.parquet(s"$dir/sky")
    val cols = cur.columns.map(org.apache.spark.sql.functions.col).toSeq
    // align column order; the scope because this runs PER TRIGGER —
    // Skyline.of's candidate checkpoint would otherwise strand one
    // candidate-sized RDD per batch until a driver GC; the stage write
    // materializes everything before the scope frees it, so publish's
    // RENAME can no longer invalidate a lazy reader
    Checkpoints.scope {
      Skyline.of(
        cur.select(cols: _*).unionAll(batch.select(cols: _*))
          .dropDuplicates(keyCol),
        dims).write.mode("overwrite").parquet(s"$dir/__stage")
      Layouts.publish(spark, s"$dir/sky", s"$dir/__stage")
    }
  }

  /** The current frontier (read side). */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    Layouts.recoverPublished(spark, s"$dir/sky")
    spark.read.parquet(s"$dir/sky")
  }

  private def geometry(spark: SparkSession, dir: String): (String, Seq[String]) = {
    val p = new Path(s"$dir/_geometry")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = Layouts.readSidecar(fs, p).getOrElse(
      throw new IllegalArgumentException(
        s"no skyline state at $dir — run SkyState.save first"))
      .trim.split('\n').toSeq
    (lines.head, lines.tail)
  }
}
