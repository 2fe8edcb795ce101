package graft.operators

/** The operating point of [[Similarity.annTopK]]: a FAISS
  * `index_factory` string in typed form, so a wrong spec fails at
  * compile time instead of in a parser. Three choices compose:
  *
  *  - `coarse`: which vectors a query scores — all of them ([[AnnSpec.Flat]]),
  *    those in its `nprobe` nearest of `centroids` seed lists
  *    ([[AnnSpec.Ivf]] by cosine, [[AnnSpec.IvfScaled]] by the
  *    prenormalized `dot/|c|` over a widened, persisted corpus), or
  *    those in its own hyperplane sign bucket and every 1-bit flip of
  *    it ([[AnnSpec.Lsh]] over the raw vectors, [[AnnSpec.MipsLsh]]
  *    over the Shrivastava–Li inner-product augmentation);
  *  - `code`: how a candidate is scored — raw cosine ([[AnnSpec.Exact]]),
  *    raw inner product ([[AnnSpec.InnerProduct]]), the product-quantized
  *    ADC sum ([[AnnSpec.Pq]]) or the 8-bit scalar-quantized dot
  *    ([[AnnSpec.Sq8]]);
  *  - `rerank`: the over-fetch factor of an exact cosine re-rank of the
  *    code-ranked shortlist; 0 means no re-rank. A cosine re-rank would
  *    undo an inner-product ranking, so `InnerProduct` takes none.
  *
  * `AnnSpec(Flat, Exact, 0)` is exact cosine brute force. No field has a
  * default: every caller states its own operating point.
  */
final case class AnnSpec(coarse: AnnSpec.Coarse, code: AnnSpec.Code, rerank: Int) {
  require(!(code == AnnSpec.InnerProduct && rerank > 0),
    "InnerProduct takes no re-rank: the re-rank orders by cosine")
}

object AnnSpec {
  sealed trait Coarse
  case object Flat extends Coarse
  final case class Ivf(centroids: Int, nprobe: Int) extends Coarse
  final case class IvfScaled(centroids: Int, nprobe: Int) extends Coarse
  final case class Lsh(planes: Int) extends Coarse
  /** Data x → [x; √(M²−|x|²)] (M the largest corpus norm), query
    * q → [q; 0], then [[Lsh]] over the augmented vectors: their cosine
    * is x·q/(M·|q|), so sign buckets generate inner-product candidates.
    */
  final case class MipsLsh(planes: Int) extends Coarse

  sealed trait Code
  case object Exact extends Code
  case object InnerProduct extends Code
  /** `trainIters = 0`: the codebook is the first `codebook` vectors'
    * slices and encoding is max inner product; above 0 it is that many
    * Lloyd rounds per subspace and encoding is min L2 reconstruction.
    */
  final case class Pq(numSub: Int, codebook: Int, trainIters: Int) extends Code
  case object Sq8 extends Code
}
