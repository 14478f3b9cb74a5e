package perfbench

import graft.queries._

/** Key sets of the benchmark's workloads, derived from the engine's own
  * inventory (`Registry.declared` and each module's `qs`), never from a
  * hand-written key list, plus the seeded per-pass key order. */
object Workloads {
  /** Every query module, in `Registry.all` order. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Scans" -> Scans.qs, "Aggs" -> Aggs.qs, "Joins" -> Joins.qs,
    "Windows" -> Windows.qs, "SetOps" -> SetOps.qs, "Fns" -> Fns.qs,
    "Arrays" -> Arrays.qs, "TimeSeries" -> TimeSeries.qs,
    "MlPrep" -> MlPrep.qs, "TextOps" -> TextOps.qs, "Vectors" -> Vectors.qs,
    "Approx" -> Approx.qs, "Multimodal" -> Multimodal.qs, "Sinks" -> Sinks.qs,
    "SqlSurface" -> SqlSurface.qs, "Streaming" -> Streaming.qs)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** Keys whose builds write under the engine's fixed `/tmp/graft_sink`
    * root rather than a directory the caller controls: the whole Sinks
    * module and the z-ordered layout read. The benchmark reads and writes
    * only inside its own checkout, so these stay out of every workload. */
  val writesOutside: Seq[String] =
    Sinks.qs.map(_.name) :+ "fn_zorder_files"

  /** The declared keys a workload may draw from. */
  def eligible: Seq[Q] =
    Registry.declared.filterNot(q => writesOutside.contains(q.name))

  /** suite_warm takes every `warmStride`-th eligible key in declared order:
    * a systematic sample that spans the modules in proportion to their
    * size (9 keys from 8 modules, one of them a Streaming memo read). */
  val warmStride = 38

  /** The modules whose keys build session artifacts on first use: corpus
    * statistics, ANN/PQ and MLlib/BPE fits, and the streaming runs. */
  val buildModules: Seq[String] =
    Seq("MlPrep", "TextOps", "Vectors", "Approx", "Multimodal", "Streaming")

  /** pipeline_cold takes every `coldStride`-th eligible key of the build
    * modules, in declared order (10 keys, one of them a Streaming key). The
    * strides keep the set-ups, passes and output checks of one run within
    * about a minute on a 4-core host. */
  val coldStride = 16

  private def stride(qs: Seq[Q], k: Int): Seq[Q] =
    qs.zipWithIndex.collect { case (q, i) if i % k == 0 => q }

  /** Workload name -> keys. */
  def keys(workload: String): Seq[Q] = workload match {
    case "suite_warm" => stride(eligible, warmStride)
    case "pipeline_cold" =>
      stride(eligible.filter(q => buildModules.contains(moduleOf(q.name))), coldStride)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }

  val names: Seq[String] = Seq("suite_warm", "pipeline_cold")

  /** The order of the keys in pass `pass` of a run seeded with `seed`. The
    * engine sees only the keys, never the seed. */
  def order(keys: Seq[Q], seed: Long, pass: Int): Seq[Q] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

  /** Fails loudly when the module lists and the declared set disagree, or
    * when a derived key set or the seeded order is not what it claims. */
  def selfCheck(): Unit = {
    val declared = Registry.declared.map(_.name)
    val fromModules = modules.flatMap(_._2.map(_.name))
    require(declared.distinct.size == declared.size,
      s"declared set repeats keys: ${declared.diff(declared.distinct)}")
    require(fromModules == declared,
      "module qs lists disagree with Registry.declared: missing " +
        declared.diff(fromModules).mkString(",") + "; extra " +
        fromModules.diff(declared).mkString(","))
    writesOutside.foreach(k => require(declared.contains(k),
      s"writesOutside names an undeclared key: $k"))
    val warm = keys("suite_warm").map(_.name)
    require(warm == eligible.map(_.name).grouped(warmStride).map(_.head).toSeq,
      "suite_warm is not the stride sample of the eligible keys")
    require(warm.map(moduleOf).distinct.size >= 8 && warm.exists(moduleOf(_) == "Streaming"),
      s"suite_warm spans too few modules or no Streaming key: ${warm.map(moduleOf).distinct}")
    val cold = keys("pipeline_cold").map(_.name)
    require(cold == eligible.map(_.name).filter(k => buildModules.contains(moduleOf(k)))
      .grouped(coldStride).map(_.head).toSeq,
      "pipeline_cold is not the stride sample of the build modules' keys")
    require(cold.exists(moduleOf(_) == "Streaming"),
      s"pipeline_cold holds no Streaming key: $cold")
    names.foreach { w =>
      val ks = keys(w).map(_.name)
      require(ks.nonEmpty && ks.forall(declared.contains),
        s"$w is not a non-empty subset of the declared set")
      require(ks.forall(k => !writesOutside.contains(k)),
        s"$w holds a key that writes outside the checkout")
      val a = order(keys(w), 7L, 1).map(_.name)
      require(a == order(keys(w), 7L, 1).map(_.name) && a.sorted == ks.sorted,
        s"$w: the seeded order is not a reproducible permutation")
    }
  }
}
