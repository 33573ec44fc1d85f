package graft.delta

import org.apache.spark.sql.DataFrame

/** Shared deletion-vector change-feed machinery: descriptor diffing and
  * row extraction, used by BOTH the batch CDF
  * (`DeltaLake.scanDeltaChanges` / `scanDeltaDeletedRows`) and the
  * streaming source (`DeltaStream.runAvailableNowCdf`) — one
  * implementation, so the batch and streaming halves cannot silently
  * diverge.
  */
private[graft] object DvCdf {

  /** Row-index diff between two DV descriptors of the SAME file:
    * (newly deleted, restored). Unchanged descriptors short-circuit to
    * empty without reading either bitmap; otherwise both are
    * deserialized driver-side (compact bytes). A shrinking bitmap —
    * un-deleting rows, e.g. an external writer's RESTORE — surfaces in
    * the second component; dropping it would make "inserts then deletes
    * nets to the table state" silently false.
    */
  def diffIndices(
      spark: org.apache.spark.sql.SparkSession, base: String,
      prior: Option[DeletionVectorDescriptor],
      now: Option[DeletionVectorDescriptor]): (Seq[Long], Seq[Long]) =
    if (prior == now) (Nil, Nil)
    else {
      def setOf(d: Option[DeletionVectorDescriptor]): Set[Long] =
        d.map(dv => DeletionVectors.deserializeData(
          DeletionVectors.read(spark, base, dv)).toSet)
          .getOrElse(Set.empty)
      // read only the bitmaps a non-empty component actually needs: an
      // absent side makes one component trivially empty, and each read
      // is driver-side I/O a caller may be paying per changed file
      (prior, now) match {
        case (None, _) => (setOf(now).toSeq, Nil)
        case (_, None) => (Nil, setOf(prior).toSeq)
        case _ =>
          val p = setOf(prior)
          val n = setOf(now)
          ((n -- p).toSeq, (p -- n).toSeq)
      }
    }

  /** Read exactly the given (file, row-index) pairs from `snap`'s
    * files: one distributed scan over the touched files, filtered by the
    * inverted [[DvMask]] over the wanted indices (a row passes when its
    * index is set). Live DVs are NOT applied (the row set is explicit).
    */
  def rowsAt(
      snap: DeltaSnapshot, diffs: Seq[(AddAction, Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val key = DeltaFileIndex.fileKey(snap)
    val wanted = diffs.map { case (a, idx) =>
      key(a) -> DeletionVectors.serializeData(idx.iterator)._1
    }.toMap
    DeltaScan.scanWithRowIndex(snap, diffs.map(_._1))
      .where(not(DvMask(snap.spark, wanted,
        col("__graft_file"), col("__graft_row_index"))))
      .drop("__graft_file", "__graft_row_index")
  }
}
