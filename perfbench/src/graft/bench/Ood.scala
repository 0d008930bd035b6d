package graft.bench

/** Seeded cross-modal (out-of-distribution) corpus under the inner-product
  * metric, in the shape of RoarGraph's text-to-image setting.
  *
  * One shared latent `z` (a mixture of Gaussian clusters) is seen through
  * two modalities. Each modality is its own linear map of `z`, plus its
  * own mean offset (the "modality gap") and its own noise:
  *
  *   base (image side)  x = A z + mu_a + sigma_a e
  *   query (text side)  q = B z + mu_b + sigma_b e
  *
  * Training queries and OOD eval queries are draws of the query modality.
  * In-distribution (ID) eval queries are held-out draws of the base
  * modality, so the two eval sets walk the same graph from different
  * distributions.
  *
  * The model itself (cluster centres, the two maps, the two offsets) is
  * fixed by [[ModelSeed]], so every seed draws from the same distribution;
  * the seed draws the samples. Every vector is a pure function of the seed.
  *
  * The clusters overlap (spread 1.0 around unit-scale centres). With 48
  * tight clusters (spread 0.7) the graph the builder made from a 3k base
  * was bimodal over seeds (average degree 6.5 or 12.8; the beam width
  * in-distribution queries need for recall 0.90 anywhere from 10 to 160),
  * so no seed-independent QPS at a recall target existed to measure.
  */
final case class OodCorpus(base: Array[Array[Float]],
                           train: Array[Array[Float]],
                           evalOod: Array[Array[Float]],
                           evalId: Array[Array[Float]])

object Ood {
  val Dim = 64
  val Latent = 32
  val Clusters = 16
  val ClusterSpread = 1.0
  val ModelSeed = 20240601L

  def generate(seed: Long, nBase: Int, nTrain: Int, nEval: Int): OodCorpus = {
    val model = new scala.util.Random(ModelSeed)
    def gauss(n: Int, scale: Double): Array[Double] =
      Array.fill(n)(model.nextGaussian() * scale)
    val centers = Array.fill(Clusters)(gauss(Latent, 1.0))
    // d × r maps, one row per output dimension; 1/sqrt(r) keeps the
    // projected scale ~1
    val mapA = Array.fill(Dim)(gauss(Latent, 1.0 / math.sqrt(Latent)))
    val mapB = Array.fill(Dim)(gauss(Latent, 1.0 / math.sqrt(Latent)))
    val muA = gauss(Dim, 0.6)
    val muB = gauss(Dim, 0.6)

    val rnd = new scala.util.Random(seed)

    def latent(): Array[Double] = {
      val c = centers(rnd.nextInt(Clusters))
      Array.tabulate(Latent)(i => c(i) + rnd.nextGaussian() * ClusterSpread)
    }
    def view(map: Array[Array[Double]], mu: Array[Double], noise: Double)
            (z: Array[Double]): Array[Float] =
      Array.tabulate(Dim) { i =>
        var s = mu(i); var j = 0
        val row = map(i)
        while (j < Latent) { s += row(j) * z(j); j += 1 }
        (s + rnd.nextGaussian() * noise).toFloat
      }
    val image = view(mapA, muA, 0.15) _
    val text = view(mapB, muB, 0.30) _

    OodCorpus(
      base = Array.fill(nBase)(image(latent())),
      train = Array.fill(nTrain)(text(latent())),
      evalOod = Array.fill(nEval)(text(latent())),
      evalId = Array.fill(nEval)(image(latent())))
  }
}
