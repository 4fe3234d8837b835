package graft.index

import scala.collection.mutable.ArrayBuffer
import graft.PostingRow
import graft.functions.Codec
import graft.index.IndexBuilder.impact

/** Row-by-row references for the postings reducer
  * ([[IndexBuilder.mergeChunksToBlocks]]): MergeStreamSpec pins the fused
  * reducer and the chunk exchange against them.
  */
object PostingsRef {

  /** Test reference for [[mergeChunksToBlocks]]: chunks sorted by
    * (term, slice) decode, merge and re-sort by docID into term-doc rows
    * for [[blockify]]. Peak memory per run = one (term, slice) sub-list.
    */
  def mergeChunks(
      chunkIt: Iterator[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
  ): Iterator[(String, Int, Long, Int, Int, Array[Byte])] = {
    val in = chunkIt.buffered
    new Iterator[(String, Int, Long, Int, Int, Array[Byte])] {
      private var curTerm: String = _
      private var curSlice: Int = -1
      private var run: Array[(Long, Int, Int, Array[Byte])] = _
      private var i = 0
      private def loadRun(): Unit = {
        val head = in.head
        curTerm = head._1; curSlice = head._2
        val buf = new ArrayBuffer[(Long, Int, Int, Array[Byte])](head._3 * 2)
        while (in.hasNext && in.head._1 == curTerm && in.head._2 == curSlice) {
          val (_, _, n, ids, tfs, dls, pos) = in.next()
          val idArr = Codec.decodeDeltas(ids, n)
          val tfArr = Codec.decodeInts(tfs, n)
          val dlArr = Codec.decodeInts(dls, n)
          val posChunks =
            if (pos == null || pos.isEmpty) null else Codec.splitPosChunks(pos, tfArr)
          var j = 0
          while (j < n) {
            buf += ((idArr(j), tfArr(j), dlArr(j), if (posChunks == null) null else posChunks(j)))
            j += 1
          }
        }
        run = buf.toArray.sortBy(_._1)
        i = 0
      }
      def hasNext: Boolean = (run != null && i < run.length) || in.hasNext
      def next(): (String, Int, Long, Int, Int, Array[Byte]) = {
        if (run == null || i >= run.length) loadRun()
        val r = run(i)
        i += 1
        (curTerm, curSlice, r._1, r._2, r._3, r._4)
      }
    }
  }

  /** Test reference for the block layout: encode one sorted partition
    * iterator into posting blocks, row by row.
    * Input rows sorted by (term, slice, doc_id); consecutive runs of the
    * same (term, slice) become one posting sub-list, chunked into blocks.
    * Per-posting position chunks (nullable) concatenate into the block's
    * `poss` stream without re-encoding.
    */
  def blockify(
      it: Iterator[(String, Int, Long, Int, Int, Array[Byte])],
      grp: Int,
      blockSize: Int,
      avgDl: Double
  ): Iterator[PostingRow] = {
    val in = it.buffered
    new Iterator[PostingRow] {
      private var curTerm: String = _
      private var curSlice: Int = -1
      private var blockId: Int = 0
      def hasNext: Boolean = in.hasNext
      def next(): PostingRow = {
        val (term, slice, _, _, _, _) = in.head
        if (term != curTerm || slice != curSlice) {
          curTerm = term; curSlice = slice; blockId = 0
        }
        val ids = new ArrayBuffer[Long](blockSize)
        val tfs = new ArrayBuffer[Int](blockSize)
        val dls = new ArrayBuffer[Int](blockSize)
        val posOut = new ArrayBuffer[Byte]()
        var maxImpact = 0.0
        var tfSum = 0L
        var maxTf = 0
        var minDl = Int.MaxValue
        while (
          in.hasNext && ids.length < blockSize && {
            val h = in.head; h._1 == term && h._2 == slice
          }
        ) {
          val (_, _, docId, tf, dl, pos) = in.next()
          ids += docId; tfs += tf; dls += dl
          tfSum += tf
          if (tf > maxTf) maxTf = tf
          if (dl < minDl) minDl = dl
          if (pos != null) posOut ++= pos
          val imp = impact(tf, dl, avgDl)
          if (imp > maxImpact) maxImpact = imp
        }
        val row = PostingRow(
          grp, slice, term, blockId,
          ids.head, ids.last, ids.length,
          Codec.encodeGapsFromBase(ids.toArray),
          Codec.encodeIntsAuto(tfs.toArray),
          Codec.encodeIntsAuto(dls.toArray),
          if (posOut.isEmpty) Array.emptyByteArray else posOut.toArray,
          tfSum,
          maxImpact,
          maxTf,
          if (minDl == Int.MaxValue) 0 else minDl
        )
        blockId += 1
        row
      }
    }
  }
}
