package graft.ml

import java.nio.file.{Files, Path, Paths}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Driver-side model registry.
  *
  * The reference keeps a process-global `OnceLock<Mutex<HashMap<String,
  * Model>>>` (src/nn/mod.rs:25); `get` clones the model out
  * (src/nn/mod.rs:48-55) and `put` replaces (src/nn/mod.rs:57-64). On
  * Spark this state lives on the DRIVER only — executors never touch
  * the registry; they see the immutable weight copy a query's plan
  * captured when it was analysed (see [[graft.MlFunctions]]). That is the
  * one place the reference's shared-memory assumption does not survive
  * a distributed runtime.
  */
object ModelRegistry {
  private val models = TrieMap.empty[String, Mlp]

  /** Clone-out semantics like the reference `get`. */
  def get(name: String): Option[Mlp] = models.get(name).map(_.copyOf())

  def put(model: Mlp): Unit = models.put(model.name, model.copyOf())

  def remove(name: String): Unit = models.remove(name)

  def clear(): Unit = models.clear()

  /** (model, specJson) pairs, sorted by name — `ml_list` contract
    * (reference table function schema at src/lib.rs:93-97).
    */
  def list(): Seq[(String, String)] =
    models.readOnlySnapshot().toSeq.map { case (k, v) => (k, v.specJson) }.sortBy(_._1)

  // ------------------------------------------------------------- persistence

  private val mapper = new ObjectMapper()
  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  /** Save weights under `<root>/<name>/<UTC yyyyMMdd_HHmmss>/` — path
    * contract per reference src/nn/mod.rs:112-117. Matching the
    * reference's create_artifact_dir (src/nn/train.rs:32-36), only the
    * NEW timestamped directory is wiped (same-second re-save); prior
    * checkpoints are retained as history. The write stages into a temp
    * dir and renames into place, so an interrupted save can never
    * destroy an existing checkpoint. Format is JSON (the reference's
    * MessagePack encoding is a Burn implementation detail, not part of
    * the contract — SURVEY §2.1 row 8).
    *
    * Returns the directory written.
    */
  def saveWeights(model: Mlp, root: String = "models"): Path = {
    val ts = tsFmt.format(java.time.Instant.now())
    val modelRoot = Paths.get(root, model.name)
    val dir = modelRoot.resolve(ts)
    Files.createDirectories(modelRoot)
    val tmp = Files.createTempDirectory(modelRoot, s".tmp-$ts-")
    Files.writeString(tmp.resolve("config.json"), model.specJson)
    Files.writeString(tmp.resolve("weights.json"), toJson(model))
    if (Files.exists(dir)) deleteRecursively(dir)
    try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException => Files.move(tmp, dir)
    }
    dir
  }

  private def deleteRecursively(p: Path): Unit =
    Files
      .walk(p)
      .sorted(java.util.Comparator.reverseOrder())
      .iterator()
      .asScala
      .foreach(Files.deleteIfExists(_))

  def toJson(model: Mlp): String = {
    val root = mapper.createObjectNode()
    root.put("name", model.name)
    root.put("spec", model.specJson)
    val layersArr = root.putArray("layers")
    model.layers.foreach { l =>
      val ln = layersArr.addObject()
      putFloats(ln, "w", l.w)
      putFloats(ln, "b", l.b)
      l.bn.foreach { bn =>
        putFloats(ln, "gamma", bn.gamma)
        putFloats(ln, "beta", bn.beta)
        putFloats(ln, "running_mean", bn.runningMean)
        putFloats(ln, "running_var", bn.runningVar)
      }
    }
    mapper.writeValueAsString(root)
  }

  def fromJson(json: String): Mlp = {
    val root = mapper.readTree(json)
    val name = root.get("name").asText()
    val specJson = root.get("spec").asText()
    val model = Mlp.fromSpec(name, specJson)
    val layersArr = root.get("layers")
    require(
      layersArr != null && layersArr.size() == model.layers.length,
      "weights JSON layer count does not match spec",
    )
    model.layers.zipWithIndex.foreach { case (l, i) =>
      val ln = layersArr.get(i)
      readFloats(ln, "w", l.w)
      readFloats(ln, "b", l.b)
      l.bn.foreach { bn =>
        readFloats(ln, "gamma", bn.gamma)
        readFloats(ln, "beta", bn.beta)
        readFloats(ln, "running_mean", bn.runningMean)
        readFloats(ln, "running_var", bn.runningVar)
      }
    }
    model
  }

  /** Load the newest saved weights for `name` under `root` (timestamped
    * subdirs sort lexicographically = chronologically).
    */
  def loadLatest(name: String, root: String = "models"): Option[Mlp] = {
    val modelRoot = Paths.get(root, name)
    if (!Files.isDirectory(modelRoot)) return None
    val latest = Files
      .list(modelRoot)
      .iterator()
      .asScala
      .filter(Files.isDirectory(_))
      // only finished checkpoints — skips in-flight/orphaned .tmp-* dirs
      .filter(_.getFileName.toString.matches("\\d{8}_\\d{6}"))
      .toSeq
      .sortBy(_.getFileName.toString)
      .lastOption
    latest.map(dir => fromJson(Files.readString(dir.resolve("weights.json"))))
  }

  private def putFloats(n: ObjectNode, key: String, a: Array[Float]): Unit = {
    val arr = n.putArray(key)
    a.foreach(arr.add(_))
  }

  private def readFloats(n: com.fasterxml.jackson.databind.JsonNode, key: String, dst: Array[Float]): Unit = {
    val arr = n.get(key).asInstanceOf[ArrayNode]
    require(arr.size() == dst.length, s"weights field $key has wrong length")
    var i = 0
    while (i < dst.length) { dst(i) = arr.get(i).floatValue(); i += 1 }
  }
}
