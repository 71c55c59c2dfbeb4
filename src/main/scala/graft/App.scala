package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Config
import graft.streaming.{HeadLivenessListener, IndexerChain}

/** The APP SHELL — the reference's boot path (app.py:30-51 → tasks.py /
  * tasks_manager.py) as one config-driven entry point: resolve the
  * settings document with env overrides (core.Config, the
  * config_parser.py precedence rules), read the store coordinates from it
  * (`mongo.db` → dataset root to READ, `mongo.uri` → state root to
  * WRITE — the parquet document-store profile), start the task set at the
  * `tasks.<name>.interval` cadences, the liveness watchdog, and the
  * serving tier.
  *
  * The tasks are the four stages of the indexer chain
  * (streaming.IndexerChain), each its own micro-batch query.
  *
  * `networks.<net>.app_mode` is read eagerly and fails loudly on an
  * unknown network — the reference's KeyError-at-boot behavior
  * (tasks.py:43).
  *
  * Usage: runMain graft.GraftApp <settings.json> <connectionNet> <configNet>
  * (each arg overridable by APP_CONFIG / APP_CONNECTION_NETWORK /
  * APP_CONFIG_NETWORK, exactly like the reference.)
  */
object GraftApp {

  /** a booted app: the live serving port, the streaming task handles, and
    * a clean shutdown that also unregisters the watchdog boot added. */
  final case class Running(
      server: graft.serving.ApiServer,
      port: Int,
      tasks: Seq[StreamingQuery],
      watchdog: HeadLivenessListener,
      stateRoot: String) {
    def stop(): Unit = {
      tasks.foreach(q => try q.stop() catch { case _: Throwable => () })
      tasks.headOption.foreach(_.sparkSession.streams.removeListener(watchdog))
      server.stop()
    }
  }

  /** boot against an existing session — the testable core ([[main]] adds
    * only arg/env resolution and blocking). */
  def boot(spark: SparkSession, cfg: Config.Resolved): Running = {
    val dataDir = cfg.storeDb
    val stateRoot = cfg.storeUri.stripPrefix("file://").stripPrefix("file:")
    val appMode = cfg.appMode // fail-at-boot on a typo'd network, as the reference does
    require(appMode.nonEmpty)

    val watchdog = new HeadLivenessListener()
    spark.streams.addListener(watchdog)
    val tasks =
      try IndexerChain.start(spark, cfg, dataDir, stateRoot)
      catch { case e: Throwable => spark.streams.removeListener(watchdog); throw e }

    // serving tier: dataset tables from the config's store db, live candle
    // pages from the state this boot maintains
    val server = new graft.serving.ApiServer(spark, dataDir,
      candleDir = Some(s"$stateRoot/candles"))
    val port = server.start()

    Running(server, port, tasks, watchdog, stateRoot)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.resolve(sys.env,
      args.headOption.map(p => new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)),
      args.lift(1), args.lift(2))
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val running = boot(spark, cfg)
    // scalastyle:off println
    println(s"[graft-app] serving on port ${running.port}, " +
      s"state under ${running.stateRoot}, mode ${cfg.appMode}")
    // scalastyle:on println
    running.tasks.foreach(_.awaitTermination())
  }
}
