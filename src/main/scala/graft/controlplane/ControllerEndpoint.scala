package graft.controlplane

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.Json

/** Driver-side REST endpoint for controller lifecycle — the analog of
  * the reference's controller-registration handler (reference
  * rest/handler/job/RegisterStreamManagerControllerHandler.java:52-110,
  * served on port 8520 per readme.md:46-48).
  *
  * Routes:
  *  - `POST /jobs/controller` (body = registered name): activate a
  *    pre-compiled controller from the name→factory registry;
  *  - `POST /jobs/controller/source` (body = name on the first line,
  *    Scala source of a Controller expression after it): compile the
  *    source via [[DynamicCompiler]] and activate the result — the
  *    reference's submit-source path (its SubmitControllerRequestBody
  *    carries controllerID + class name + source file the same way);
  *  - `POST /jobs/udf/source` (body = name ⏎ source of a
  *    `(String, Long, Long) => Long`): compile and register count
  *    logic in [[UdfRegistry]] so `assignExecutionLogic` can swap the
  *    running query to it (StreamManager.registerFunctionClass →
  *    changeOfLogic in the reference);
  *  - `GET /jobs/controller` / `GET /jobs/plan`: inspection.
  *
  * Source routes are feature-flagged by [[DynamicCompiler.enabled]]
  * (403 when off) — compiling POSTed source is a remote-code-execution
  * surface.
  */
final class ControllerEndpoint(
    executor: ReconfigurationExecutor,
    controllers: Map[String, () => Controller],
    port: Int = 8520) {

  @volatile private var activeController: Option[Controller] = None
  private var server: HttpServer = _

  def active: Option[Controller] = activeController

  /** Answer with `body` as one JSON object. */
  private def respond(ex: HttpExchange, code: Int, body: Map[String, Any]): Unit = {
    val bytes = Json.mapper.writeValueAsBytes(body)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** Body protocol of the source routes: first line = name, rest =
    * Scala source (the reference's controllerID + classFile pair). */
  private def nameAndSource(body: String): (String, String) = {
    val i = body.indexOf('\n')
    if (i < 0) (body.trim, "") else (body.take(i).trim, body.drop(i + 1))
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, Map("error" -> msg))

  private def handleSource(ex: HttpExchange)(
      compile: (String, String) => Map[String, Any]): Unit = {
    if (ex.getRequestMethod != "POST") {
      error(ex, 405, "method not allowed"); return
    }
    if (!DynamicCompiler.enabled) {
      error(ex, 403, "dynamic compilation disabled; " +
        s"set -D${DynamicCompiler.FlagKey}=true")
      return
    }
    val (name, source) = nameAndSource(new String(
      ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
    if (name.isEmpty || source.trim.isEmpty) {
      error(ex, 400, "body = name on first line, Scala source after")
      return
    }
    try respond(ex, 200, compile(name, source))
    catch {
      case e: DynamicCompiler.CompileException =>
        error(ex, 400, e.getMessage)
      // anything else from the compile/eval path (e.g. the NPE a
      // source evaluating to null raises inside eval's type match)
      // must still ANSWER the exchange — an escaped throwable drops
      // the connection with no response at all
      case scala.util.control.NonFatal(e) =>
        error(ex, 400,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/jobs/controller/source", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        handleSource(ex) { (name, source) =>
          val c = DynamicCompiler.compileController(source)
          activeController = Some(c)
          Map("compiled" -> name, "controller" -> c.name)
        }
    })
    server.createContext("/jobs/udf/source", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        handleSource(ex) { (name, source) =>
          DynamicCompiler.compileAndRegisterCountLogic(name, source)
          Map("registered" -> name)
        }
    })
    server.createContext("/jobs/controller", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = ex.getRequestMethod match {
        case "POST" =>
          val name = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8).trim
          controllers.get(name) match {
            case Some(factory) =>
              activeController = Some(factory())
              respond(ex, 200, Map("registered" -> name))
            case None => error(ex, 404, s"unknown controller $name")
          }
        case "GET" => respond(ex, 200,
          Map("active" -> activeController.map(_.name).getOrElse("none")))
        case _ => error(ex, 405, "method not allowed")
      }
    })
    server.createContext("/jobs/plan", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val plan = executor.getPlan
        respond(ex, 200, Map("maxParallelism" -> plan.maxParallelism,
          "operators" -> plan.operators.map { case (name, d) =>
            name -> Map("parallelism" -> d.parallelism, "udf" -> d.udfName)
          }))
      }
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
