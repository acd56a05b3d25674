package graft.exec

import scala.collection.concurrent.TrieMap
import graft.model.EtlModel
import graft.exec.Tasks.InvalidTaskSpec

/** Accepted-model registry — the security gate of the reference
  * (governor.py:323-347: only pre-registered model classes may run,
  * duplicate names rejected, violations raise InvalidTaskSpec). No
  * reflection of arbitrary class names, same as upstream.
  *
  * Registration is FACTORY-based: the engine constructs a model instance
  * per task with the spec's `model_construction_kwargs`, mirroring
  * `model_cls(**model_construction_kwargs)` in the reference's isolated
  * processor (control/process.py:89). [[register]] is the singleton
  * sugar for stateless models that take no constructor state.
  */
final class TaskRegistry {
  private val factories = TrieMap.empty[String, Map[String, String] => EtlModel]

  /** Register a per-task model factory; duplicate names are rejected
    * (governor.py:340-344).
    */
  def registerFactory(name: String,
                      factory: Map[String, String] => EtlModel): Unit = {
    if (factories.putIfAbsent(name, factory).isDefined)
      throw new InvalidTaskSpec(s"model '$name' already registered")
  }

  /** Singleton sugar: every task shares this instance. Construction
    * kwargs are rejected — the reference's `model_cls(**kwargs)` would
    * TypeError on unexpected kwargs, not silently drop them.
    */
  def register(model: EtlModel): Unit =
    registerFactory(model.name, kwargs => {
      if (kwargs.nonEmpty) throw new InvalidTaskSpec(
        s"model '${model.name}' is a singleton registration and takes no " +
          s"construction kwargs (got: ${kwargs.keys.toSeq.sorted.mkString(", ")})")
      model
    })

  def isAccepted(name: String): Boolean = factories.contains(name)

  /** Construct an accepted class for one task; unknown names raise
    * (governor.py:371-373).
    */
  def resolve(name: String,
              constructionKwargs: Map[String, String] = Map.empty): EtlModel =
    factories.getOrElse(name,
      throw new InvalidTaskSpec(s"model '$name' is not an accepted class"))
      .apply(constructionKwargs)
}
