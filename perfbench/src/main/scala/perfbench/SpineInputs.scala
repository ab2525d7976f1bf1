package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** Input properties of the generated spine data set. */
final case class SpineSpec(
    proteins: Seq[(String, Int)],
    rawSeqs: Int,
    dupShare: Double,
    nonHumanShare: Double,
    outOfBandShare: Double,
    xShare: Double,
    weeks: Int,
    regions: Int,
    poolSize: Int = 24,
    lineages: Int = 10)

object SpineSpec {
  val Default = SpineSpec(
    proteins = Seq("Spike" -> 1273, "N" -> 419),
    rawSeqs = 16000, dupShare = 0.2, nonHumanShare = 0.05,
    outOfBandShare = 0.05, xShare = 0.05, weeks = 26, regions = 6)
  val Smoke = SpineSpec(
    proteins = Seq("Spike" -> 1273, "NSP5" -> 306),
    rawSeqs = 800, dupShare = 0.2, nonHumanShare = 0.05,
    outOfBandShare = 0.05, xShare = 0.05, weeks = 3, regions = 2)
}

/** One planted mutation: a substitution, a deletion of `len` residues
  * starting at `pos`, or an insertion of `residues` after `pos` (0-based
  * reference positions). */
final case class Mutation(kind: String, pos: Int, len: Int, residues: String)

/** A protein's reference, its bounded mutation pool and its lineages. The
  * pool sites are 8 residues apart, so planted mutations never touch and
  * the caller reports each as exactly one event of its own type. */
final class ProteinModel(val name: String, val ref: String,
    val pool: IndexedSeq[Mutation], val lineages: IndexedSeq[Set[Int]]) {

  private val insertAfter: Map[Int, Int] =
    pool.zipWithIndex.collect { case (m, i) if m.kind == "ins" => m.pos -> i }.toMap

  /** Ungapped sequence carrying the mutations `combo` (pool indices). */
  def sequence(combo: Set[Int]): String = {
    val byPos = combo.map(i => pool(i).pos -> pool(i)).toMap
    val sb = new StringBuilder(ref.length + 8)
    var p = 0
    while (p < ref.length) {
      byPos.get(p) match {
        case Some(m) if m.kind == "sub" => sb.append(m.residues); p += 1
        case Some(m) if m.kind == "del" => p += m.len
        case Some(m) => sb.append(ref.charAt(p)).append(m.residues); p += 1
        case None => sb.append(ref.charAt(p)); p += 1
      }
    }
    sb.toString
  }

  /** The planted alignment row: reference columns plus one column group
    * per pool insertion. `combo = None` renders the aligned reference. */
  def aligned(combo: Option[Set[Int]]): String = {
    val has = combo.getOrElse(Set.empty[Int])
    val byPos = has.map(i => pool(i).pos -> pool(i)).toMap
    val sb = new StringBuilder(ref.length + 16)
    var deleting = 0
    var p = 0
    while (p < ref.length) {
      val here = byPos.get(p)
      if (here.exists(_.kind == "del")) deleting = here.get.len
      if (deleting > 0) { sb.append('-'); deleting -= 1 }
      else if (here.exists(_.kind == "sub")) sb.append(here.get.residues)
      else sb.append(ref.charAt(p))
      insertAfter.get(p).foreach { i =>
        val ins = pool(i)
        if (has.contains(i)) sb.append(ins.residues)
        else sb.append("-" * ins.residues.length)
      }
      p += 1
    }
    sb.toString
  }

  def kinds(combo: Set[Int]): Map[String, Int] =
    combo.toSeq.groupBy(i => pool(i).kind).map { case (k, v) => k -> v.size }
}

object ProteinModel {
  private val Residues = "ACDEFGHIKLMNPQRSTVWY"

  def generate(name: String, length: Int, poolSize: Int, lineages: Int,
      rng: scala.util.Random): ProteinModel = {
    def residue(not: Char): Char = {
      var c = not
      while (c == not) c = Residues.charAt(rng.nextInt(Residues.length))
      c
    }
    val ref = "M" + Seq.fill(length - 1)(residue('M')).mkString
    val sites = rng.shuffle((8 until length - 8 by 8).toVector).take(poolSize).sorted
    val pool = sites.map { p =>
      val u = rng.nextDouble()
      if (u < 0.7) Mutation("sub", p, 1, residue(ref.charAt(p)).toString)
      else if (u < 0.85) Mutation("del", p, 1 + rng.nextInt(3), "")
      else Mutation("ins", p, 0, Seq.fill(1 + rng.nextInt(2))(residue('X')).mkString)
    }
    // lineage 0 is the wild type; the others carry 2-4 pool mutations
    val lins = Set.empty[Int] +: (1 until lineages).map { _ =>
      rng.shuffle(pool.indices.toVector).take(2 + rng.nextInt(3)).toSet
    }
    new ProteinModel(name, ref, pool, lins)
  }
}

/** One raw FASTA record and the truth it was planted with. `combo` is
  * `None` when the record must be filtered out (host, length or X). */
final case class RawRecord(protein: String, accession: String, seq: String,
    combo: Option[Set[Int]])

/** The generated inputs and their planted truth. */
final class SpineInputs(val spec: SpineSpec, val models: Seq[ProteinModel],
    val records: Seq[RawRecord], val meta: Seq[(String, String, String)],
    hosts: Map[String, String]) {

  val RefIsolate = "WIV04"

  def refLens: Map[String, Int] = models.map(m => m.name -> m.ref.length).toMap

  /** Per protein: distinct filtered sequence → (combo, member accessions). */
  lazy val groups: Map[String, Map[String, (Set[Int], Seq[String])]] =
    records.filter(_.combo.isDefined).groupBy(_.protein).map { case (p, rs) =>
      p -> rs.groupBy(_.seq).map { case (s, members) =>
        s -> (members.head.combo.get, members.map(_.accession).sorted)
      }
    }

  def filteredCount(protein: String): Long =
    groups.getOrElse(protein, Map.empty).values.map(_._2.size.toLong).sum

  def clusterCount(protein: String): Int = groups.getOrElse(protein, Map.empty).size

  /** Events the caller must report for a protein, by type: one per
    * planted mutation of every cluster except the reference's. */
  def eventsByType(protein: String): Map[String, Long] = {
    val model = models.find(_.name == protein).get
    groups(protein).values.toSeq.filter(_._1.nonEmpty)
      .flatMap { case (combo, _) => model.kinds(combo).toSeq }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.toLong).sum }
  }

  /** Σ over weeks of the Worldwide weekly total: every metadata row linked
    * to a cluster of at least two sequences. */
  def worldwideTotal(protein: String): Long = {
    val dated = meta.map(m => m._1 -> m._2).toMap
    groups(protein).values.toSeq.filter(_._2.size >= 2)
      .map(_._2.count(dated.contains).toLong).sum
  }

  /** Writes the raw allprot FASTA and the metadata table. */
  def write(dir: File): (File, File) = {
    dir.mkdirs()
    val fasta = new File(dir, "allprot.fasta")
    val byAcc = meta.map(m => m._1 -> m).toMap
    writeLines(fasta) { w =>
      records.foreach { r =>
        val (acc, date, _) = byAcc(r.accession)
        val host = hostOf(r.accession)
        w.write(s">${r.protein}|hCoV-19/$acc/2021|$date|$acc|Original|bench|$host\n")
        w.write(r.seq); w.write('\n')
      }
    }
    val metaFile = new File(dir, "metadata.tsv")
    writeLines(metaFile) { w =>
      w.write("accession\tdate\tregion\n")
      meta.foreach { case (a, d, r) => w.write(s"$a\t$d\t$r\n") }
    }
    (fasta, metaFile)
  }

  private def hostOf(acc: String): String = hosts.getOrElse(acc, "Human")

  private def writeLines(f: File)(body: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(f.toPath, UTF_8)
    try body(w) finally w.close()
  }
}

object SpineInputs {
  private val Regions = Seq("Europe", "Asia", "NorthAmerica", "SouthAmerica",
    "Africa", "Oceania", "Antarctica", "Arctic")
  private val Animals = Seq("Mink", "Felis catus", "Odocoileus virginianus")
  private val FirstSunday = java.time.LocalDate.of(2021, 1, 3)

  def generate(spec: SpineSpec, seed: Long): SpineInputs = {
    val rng = new scala.util.Random(seed)
    val models = spec.proteins.map { case (n, len) =>
      ProteinModel.generate(n, len, spec.poolSize, spec.lineages, rng)
    }
    val isolates = math.max(1, spec.rawSeqs / models.size)
    val records = mutable.ArrayBuffer[RawRecord]()
    val meta = mutable.ArrayBuffer[(String, String, String)]()
    val hosts = mutable.HashMap[String, String]()
    // the reference isolate: wild type for every protein
    meta += (("WIV04", FirstSunday.toString, Regions.head))
    models.foreach(m => records += RawRecord(m.name, "WIV04", m.ref, Some(Set.empty)))
    val lineageWeights = models.head.lineages.indices.map(i => if (i == 0) 1.0 else 3.0)
    def lineage(): Int = {
      var u = rng.nextDouble() * lineageWeights.sum
      var i = 0
      while (u > lineageWeights(i)) { u -= lineageWeights(i); i += 1 }
      i
    }
    val perProtein = models.map(m => m.name -> mutable.ArrayBuffer[RawRecord]()).toMap
    (0 until isolates).foreach { k =>
      val acc = f"EPI_ISL_${100000 + k}%07d"
      val date = FirstSunday.plusDays(7L * rng.nextInt(spec.weeks) + rng.nextInt(7))
      meta += ((acc, date.toString, Regions(rng.nextInt(spec.regions))))
      val human = rng.nextDouble() >= spec.nonHumanShare
      if (!human) hosts(acc) = Animals(rng.nextInt(Animals.size))
      val lin = lineage()
      models.foreach { m =>
        val earlier = perProtein(m.name)
        val base =
          if (earlier.nonEmpty && rng.nextDouble() < spec.dupShare) {
            val src = earlier(rng.nextInt(earlier.size))
            (src.seq, src.combo)
          } else {
            val extra = if (rng.nextDouble() < 0.35) Set(rng.nextInt(m.pool.size)) else Set.empty[Int]
            val combo = m.lineages(lin) ++ extra
            (m.sequence(combo), Some(combo))
          }
        val u = rng.nextDouble()
        val rec =
          if (u < spec.outOfBandShare)
            RawRecord(m.name, acc, base._1.dropRight(45 + rng.nextInt(20)), None)
          else if (u < spec.outOfBandShare + spec.xShare) {
            val s = base._1.toCharArray
            val n = math.max(2, (s.length * 0.03).toInt)
            rng.shuffle(s.indices.toVector).take(n).foreach(i => s(i) = 'X')
            RawRecord(m.name, acc, new String(s), None)
          } else RawRecord(m.name, acc, base._1, base._2.filter(_ => human))
        records += rec
        if (rec.combo.isDefined) earlier += rec
      }
    }
    new SpineInputs(spec, models, records.toSeq, meta.toSeq, hosts.toMap)
  }
}
