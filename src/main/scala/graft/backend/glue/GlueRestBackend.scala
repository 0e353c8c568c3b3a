package graft.backend.glue

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.backend.{CreateMode, DropMode, MetadataBackend, Page, TableInfo}
import graft.core.{GraftError, ObjectIdentifier, TableUtil}

/** AWS Glue Data Catalog backend over the PUBLIC wire protocol —
  * `application/x-amz-json-1.1` posts with `X-Amz-Target: AWSGlue.<Op>`
  * and SigV4 signing — instead of the AWS SDK the reference uses
  * (`glue/GlueNamespace.java:90-674`; no SDK jars exist in this build,
  * and the wire protocol is public and small). Behavioral parity:
  * 1-level namespaces = Glue databases, `table_type=lance` table
  * filtering, native `NextToken` pagination with the reference's
  * min(remaining, 100) page cap (`GlueNamespace.java:122-134,217-233`),
  * restrict-only drops.
  *
  * Configuration (`GlueNamespaceConfig.java:40-88` keys):
  *  - `region` (or explicit `endpoint` for Glue-compatible servers —
  *    the fake test server, moto, LocalStack)
  *  - `access_key_id` / `secret_access_key` / `session_token` — when
  *    present every request is SigV4-signed; absent means anonymous
  *    (accepted by local emulators, rejected by real AWS — loudly)
  *  - `catalog_id` (optional account override), `root`
  */
class GlueRestBackend extends MetadataBackend {

  private var conf: Map[String, String] = Map.empty
  private var http: HttpClient = _

  private val SchemaParam = "graft.arrow_schema"
  /** Reference page cap per Glue call (`GlueNamespace.java:96`). */
  private val MaxListing = 100

  override def initialize(props: Map[String, String]): Unit = {
    conf = props
    // config-surface parity with the former stub: validate eagerly
    val pool = props.get("client.pool-size").map(_.toInt).getOrElse(3)
    if (pool <= 0) throw GraftError.InvalidInput("client.pool-size must be > 0")
    http = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(
        props.get("connect_timeout_ms").map(_.toLong).getOrElse(10000L)))
      .build()
  }

  override def backendId: String =
    s"glue(${conf.getOrElse("endpoint", conf.get("region").map(r => s"glue.$r.amazonaws.com").getOrElse("<unconfigured>"))})"

  private def endpoint: String =
    conf.get("endpoint").orElse(conf.get("region").map(r => s"https://glue.$r.amazonaws.com"))
      .getOrElse(throw GraftError.ServiceUnavailable(
        "glue backend requires 'region' or 'endpoint'"))

  private def root: String = conf.getOrElse("root", "/tmp/graft-warehouse")

  /** The Hadoop conf for storage probes, built once per backend rather
    * than once per describe (each build re-parses the default XML). */
  private lazy val storageConf = new org.apache.hadoop.conf.Configuration()

  /** One Glue JSON-1.1 call. Retries 5xx/IO with backoff like RestClient;
    * 4xx carries the Glue `__type` for error mapping. */
  private def call(target: String, body: JObject): JValue = {
    val uri = URI.create(endpoint)
    val payload = JsonMethods.compact(JsonMethods.render(body))
      .getBytes(StandardCharsets.UTF_8)
    val host = uri.getHost + (if (uri.getPort > 0) s":${uri.getPort}" else "")
    val base = Map(
      "content-type" -> "application/x-amz-json-1.1",
      "host" -> host,
      "x-amz-target" -> s"AWSGlue.$target")
    val auth = conf.get("access_key_id") match {
      case Some(ak) => AwsSigV4.signedHeaders(
        "POST", Option(uri.getPath).filter(_.nonEmpty).getOrElse("/"),
        base, payload,
        conf.getOrElse("region", "us-east-1"), "glue",
        AwsSigV4.Credentials(ak, conf.getOrElse("secret_access_key", ""),
          conf.get("session_token")),
        AwsSigV4.nowTimestamp())
      case None => Map.empty[String, String]
    }
    val maxRetries = conf.get("max_retries").map(_.toInt).getOrElse(3)
    val baseDelay = conf.get("retry_base_delay_ms").map(_.toLong).getOrElse(1000L)
    var attempt = 0
    var lastErr: Exception = null
    while (attempt <= maxRetries) {
      if (attempt > 0) Thread.sleep(baseDelay * (1L << (attempt - 1)))
      attempt += 1
      try {
        val b = HttpRequest.newBuilder(uri)
          .timeout(Duration.ofMillis(
            conf.get("read_timeout_ms").map(_.toLong).getOrElse(30000L)))
        (base - "host" ++ auth).foreach { case (k, v) => b.header(k, v) }
        val resp = http.send(
          b.POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
          HttpResponse.BodyHandlers.ofString())
        val code = resp.statusCode()
        val text = Option(resp.body()).getOrElse("")
        if (code >= 200 && code < 300)
          return if (text.isEmpty) JNothing else JsonMethods.parse(text)
        val tpe = glueType(text)
        if (code >= 400 && code < 500) tpe match {
          // AWS returns throttling as HTTP 400 — it is transient
          // backpressure and must retry with backoff, like the SDK does.
          // A proxy/LB sheds load as a bare 429 with a non-Glue body
          // (glueType = "") — equally transient, equally retried.
          case _ if code == 429 =>
            lastErr = GlueApiError(tpe, s"HTTP 429: $text")
          case "ThrottlingException" | "TooManyRequestsException" =>
            lastErr = GlueApiError(tpe, text)
          // call sites map these two to the matching GraftError
          case "EntityNotFoundException" | "AlreadyExistsException" =>
            throw GlueApiError(tpe, text)
          // everything else maps to the spec taxonomy HERE so no raw
          // wire exception ever escapes to the catalog layer
          case "InvalidInputException" | "ValidationException" =>
            throw GraftError.InvalidInput(s"AWSGlue.$target: ${text.take(300)}")
          case other =>
            throw GraftError.ServiceUnavailable(
              s"AWSGlue.$target failed ($other): ${text.take(300)}")
        } else lastErr = GlueApiError(tpe, s"HTTP $code: $text")
      } catch {
        case e: GlueApiError => throw e
        case e: GraftError => throw e
        case e: java.io.IOException => lastErr = e
      }
    }
    throw GraftError.ServiceUnavailable(
      s"AWSGlue.$target failed after $maxRetries retries", lastErr)
  }

  private def glueType(body: String): String =
    try JsonMethods.parse(body) \ "__type" match {
      case JString(t) => t.split('#').last
      case _ => ""
    } catch { case _: Exception => "" }

  private final case class GlueApiError(errorType: String, body: String)
      extends RuntimeException(s"$errorType: ${body.take(300)}") {
    def isNotFound: Boolean = errorType == "EntityNotFoundException"
    def isExists: Boolean = errorType == "AlreadyExistsException"
  }

  private def requireDepth1(id: ObjectIdentifier): Unit =
    if (id.depth != 1)
      throw GraftError.InvalidInput(
        s"glue namespaces are exactly 1 level (database), got $id")

  private def withCatalogId(fields: (String, JValue)*): JObject =
    JObject((conf.get("catalog_id").map(c => "CatalogId" -> (JString(c): JValue)).toList
      ++ fields.toList): _*)

  private def propsOf(jv: JValue): Map[String, String] = jv match {
    case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  private def jprops(m: Map[String, String]): JObject =
    JObject(m.map { case (k, v) => k -> (JString(v): JValue) }.toList)

  private def strOpt(jv: JValue): Option[String] =
    jv match { case JString(s) if s.nonEmpty => Some(s); case _ => None }

  // ---- namespaces -----------------------------------------------------

  /** Native NextToken loop, page cap min(remaining, 100)
    * (`GlueNamespace.java:122-134`). */
  private def allDatabaseNames(): Seq[String] = {
    var token: Option[String] = None
    val out = Seq.newBuilder[String]
    while ({
      val resp = call("GetDatabases", withCatalogId(
        (Seq("MaxResults" -> (JInt(MaxListing): JValue)) ++
          token.map(t => "NextToken" -> (JString(t): JValue))): _*))
      (resp \ "DatabaseList") match {
        case JArray(items) => items.foreach(d => strOpt(d \ "Name").foreach(out += _))
        case _ =>
      }
      token = strOpt(resp \ "NextToken")
      token.isDefined
    }) ()
    out.result()
  }

  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] =
    if (parent.isRoot) allDatabaseNames().sorted.map(ObjectIdentifier.of(_))
    else if (parent.depth == 1) Nil
    else { requireDepth1(parent); Nil }

  override def listNamespacesPaged(parent: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] = {
    if (!parent.isRoot) return Page(listNamespaces(parent), None)
    val resp = call("GetDatabases", withCatalogId(
      (Seq("MaxResults" -> (JInt(math.min(limit.getOrElse(MaxListing), MaxListing)): JValue)) ++
        pageToken.map(t => "NextToken" -> (JString(t): JValue))): _*))
    val names = (resp \ "DatabaseList") match {
      case JArray(items) => items.flatMap(d => strOpt(d \ "Name"))
      case _ => Nil
    }
    Page(names.sorted.map(ObjectIdentifier.of(_)), strOpt(resp \ "NextToken"))
  }

  private def getDatabaseOrNull(name: String): JValue =
    try call("GetDatabase", withCatalogId("Name" -> JString(name))) \ "Database"
    catch { case e: GlueApiError if e.isNotFound => JNothing }

  private def describeDb(db: JValue): Map[String, String] = {
    val base = Map.newBuilder[String, String]
    strOpt(db \ "Description").foreach(base += "description" -> _)
    strOpt(db \ "LocationUri").foreach(base += "location_uri" -> _)
    base ++= propsOf(db \ "Parameters")
    base.result()
  }

  private def dbInput(name: String, properties: Map[String, String]): JObject = {
    val desc = properties.get("description")
    val loc = properties.get("location_uri")
      .getOrElse(s"${root.stripSuffix("/")}/$name")
    JObject(List(
      "Name" -> (JString(name): JValue),
      "LocationUri" -> (JString(loc): JValue)) ++
      desc.map(d => "Description" -> (JString(d): JValue)) :+
      ("Parameters" -> (jprops(properties - "description" - "location_uri"): JValue)))
  }

  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] = {
    if (id.isRoot) throw GraftError.InvalidInput("cannot create root namespace")
    requireDepth1(id)
    val name = id.name
    def create(): Unit =
      try call("CreateDatabase", withCatalogId("DatabaseInput" -> dbInput(name, properties)))
      catch { case e: GlueApiError if e.isExists =>
        throw GraftError.NamespaceAlreadyExists(id) }
    getDatabaseOrNull(name) match {
      case JNothing => create()
      case _ => mode match {
        case CreateMode.Create => throw GraftError.NamespaceAlreadyExists(id)
        case CreateMode.ExistOk => ()
        case CreateMode.Overwrite =>
          // restrict-only like dropNamespace: Glue's DeleteDatabase
          // CASCADES, so an unguarded overwrite of a non-empty database
          // would destroy every table's metadata — the hive2 backend
          // refuses the same operation, and so must this one
          val tables = allTables(name)
          if (tables.nonEmpty)
            throw GraftError.InvalidInput(
              s"cannot overwrite non-empty namespace $id " +
                s"(${tables.size} tables; drop them first)")
          // isNotFound here means another client dropped it first —
          // exactly the state Overwrite wants; fall through to create
          try call("DeleteDatabase", withCatalogId("Name" -> JString(name)))
          catch { case e: GlueApiError if e.isNotFound => () }
          create()
      }
    }
    describeNamespace(id)
  }

  override def namespaceExists(id: ObjectIdentifier): Boolean = {
    requireDepth1(id)
    getDatabaseOrNull(id.name) != JNothing
  }

  override def describeNamespace(id: ObjectIdentifier): Map[String, String] = {
    requireDepth1(id)
    getDatabaseOrNull(id.name) match {
      case JNothing => throw GraftError.NamespaceNotFound(id)
      case db => describeDb(db)
    }
  }

  /** Native in-place UpdateDatabase — never drop-and-recreate. */
  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] = {
    requireDepth1(id)
    val current = describeNamespace(id)
    val next = current -- removals ++ updates
    // re-map isNotFound here too: the database can vanish between the
    // describe above and the mutation, and no raw wire exception may
    // escape to the catalog layer
    try call("UpdateDatabase", withCatalogId(
      "Name" -> JString(id.name), "DatabaseInput" -> dbInput(id.name, next)))
    catch { case e: GlueApiError if e.isNotFound =>
      throw GraftError.NamespaceNotFound(id) }
    describeNamespace(id)
  }

  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] = {
    requireDepth1(id)
    getDatabaseOrNull(id.name) match {
      case JNothing => mode match {
        case DropMode.Fail => throw GraftError.NamespaceNotFound(id)
        case DropMode.Skip => return Map.empty
      }
      case db =>
        val tables = allTables(id.name)
        if (tables.nonEmpty)
          throw GraftError.InvalidInput(
            s"namespace $id is not empty (restrict drop): ${tables.size} tables")
        val props = describeDb(db)
        // a database dropped between the existence check above and this
        // delete is a satisfied drop under Skip and a NamespaceNotFound
        // under Fail — never a raw wire exception
        try call("DeleteDatabase", withCatalogId("Name" -> JString(id.name)))
        catch { case e: GlueApiError if e.isNotFound => mode match {
          case DropMode.Fail => throw GraftError.NamespaceNotFound(id)
          case DropMode.Skip => return Map.empty
        } }
        props
    }
  }

  // ---- tables ---------------------------------------------------------

  /** Native NextToken loop over GetTables (`GlueNamespace.java:217-233`). */
  private def allTables(db: String): Seq[JValue] = {
    var token: Option[String] = None
    val out = Seq.newBuilder[JValue]
    while ({
      val resp = call("GetTables", withCatalogId(
        (Seq("DatabaseName" -> (JString(db): JValue),
          "MaxResults" -> (JInt(MaxListing): JValue)) ++
          token.map(t => "NextToken" -> (JString(t): JValue))): _*))
      (resp \ "TableList") match {
        case JArray(items) => items.foreach(out += _)
        case _ =>
      }
      token = strOpt(resp \ "NextToken")
      token.isDefined
    }) ()
    out.result()
  }

  override def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier] = {
    requireDepth1(ns)
    if (getDatabaseOrNull(ns.name) == JNothing)
      throw GraftError.NamespaceNotFound(ns)
    allTables(ns.name)
      .filter(t => TableUtil.isLanceTable(propsOf(t \ "Parameters")))
      .flatMap(t => strOpt(t \ "Name"))
      .sorted.map(ns.child)
  }

  override def listTablesPaged(ns: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] = {
    requireDepth1(ns)
    val resp = try call("GetTables", withCatalogId(
      (Seq("DatabaseName" -> (JString(ns.name): JValue),
        "MaxResults" -> (JInt(math.min(limit.getOrElse(MaxListing), MaxListing)): JValue)) ++
        pageToken.map(t => "NextToken" -> (JString(t): JValue))): _*))
    catch { case e: GlueApiError if e.isNotFound =>
      throw GraftError.NamespaceNotFound(ns) }
    val names = (resp \ "TableList") match {
      // post-filter to lance tables: can under-fill a page, the
      // reference's documented quirk (GlueNamespace.java:227-230)
      case JArray(items) => items
        .filter(t => TableUtil.isLanceTable(propsOf(t \ "Parameters")))
        .flatMap(t => strOpt(t \ "Name"))
      case _ => Nil
    }
    // the per-page sort assumes the server pages in global name order
    // (real Glue does: GetTables pages are lexicographic, so sorting
    // within a page is a no-op that also normalizes fakes). Against a
    // Glue-compatible server with unordered NextToken pages, the
    // concatenation of pages would differ from the globally sorted
    // unpaged listTables — a documented divergence, matching the
    // reference's pass-through behavior (GlueNamespace.java:227-230).
    Page(names.sorted.map(ns.child), strOpt(resp \ "NextToken"))
  }

  private def getTableOrNull(db: String, table: String): JValue =
    try call("GetTable", withCatalogId(
      "DatabaseName" -> JString(db), "Name" -> JString(table))) \ "Table"
    catch { case e: GlueApiError if e.isNotFound => JNothing }

  override def tableExists(id: ObjectIdentifier): Boolean =
    id.depth == 2 && getTableOrNull(id.parent.name, id.name) != JNothing

  private def toTableInfo(id: ObjectIdentifier, t: JValue): TableInfo = {
    val params = propsOf(t \ "Parameters")
    TableUtil.validateLanceTable(id, params)
    val location = strOpt(t \ "StorageDescriptor" \ "Location")
      .getOrElse(throw GraftError.TableNotFound(id))
    val (props, storage) = TableUtil.splitStorageOptions(params - SchemaParam)
    TableInfo(id, location, props, storage,
      schemaJson = params.get(SchemaParam),
      isOnlyDeclared = !TableUtil.hasStorageComponents(location, storageConf))
  }

  override def describeTable(id: ObjectIdentifier): TableInfo = {
    requireDepth1(id.parent)
    getTableOrNull(id.parent.name, id.name) match {
      case JNothing => throw GraftError.TableNotFound(id)
      case t => toTableInfo(id, t)
    }
  }

  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo = {
    if (id.depth != 2)
      throw GraftError.InvalidInput(s"glue table ids are database.table, got $id")
    requireDepth1(id.parent)
    if (getDatabaseOrNull(id.parent.name) == JNothing)
      throw GraftError.NamespaceNotFound(id.parent)
    val loc = location.getOrElse(defaultTableLocation(root, id))
    val params = TableUtil.mergeTableProperties(properties) ++
      schemaJson.map(SchemaParam -> _)
    // Catalog-native columns: declared schema mapped to Glue's hive-style
    // types (placeholder when none — `glue.py:416-422`), so Athena / the
    // Glue console see the real column list; exact fidelity rides
    // SchemaParam in Parameters.
    val cols = JArray(graft.schema.CatalogColumns.columnsFor(schemaJson)
      .toList.map { case (n, t) =>
        JObject("Name" -> JString(n), "Type" -> JString(t))
      })
    val input = JObject(
      "Name" -> JString(id.name),
      "TableType" -> JString("EXTERNAL_TABLE"),
      "Parameters" -> jprops(params),
      "StorageDescriptor" -> JObject(
        "Columns" -> cols, "Location" -> JString(loc)))
    try call("CreateTable", withCatalogId(
      "DatabaseName" -> JString(id.parent.name), "TableInput" -> input))
    catch { case e: GlueApiError if e.isExists =>
      throw GraftError.TableAlreadyExists(id) }
    val (props, storage) = TableUtil.splitStorageOptions(params - SchemaParam)
    TableInfo(id, loc, props, storage, schemaJson, isOnlyDeclared = true)
  }

  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo = {
    if (id.depth != 2) throw GraftError.TableNotFound(id)
    val info = describeTable(id)
    // Glue deletes metadata only; data removal is the catalog layer's job
    try call("DeleteTable", withCatalogId(
      "DatabaseName" -> JString(id.parent.name), "Name" -> JString(id.name)))
    catch { case e: GlueApiError if e.isNotFound =>
      throw GraftError.TableNotFound(id) }
    info
  }
}
