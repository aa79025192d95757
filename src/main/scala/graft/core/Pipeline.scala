package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.codec.{ConnectJson, Debezium}
import graft.operators.Relational
import graft.sources.{FileSource, KafkaRelaySource, PromTextSource, Source}

/**
 * Spec → running pipeline (SURVEY §3.1). Stage vocabulary maps 1:1 to
 * the reference's connector/SMT configuration:
 *
 * sources: `file` (S5; format/path/schema DDL), `kafka` (S6, gated on a
 * deployed connector jar + brokers).
 * transforms: `mask` (P1 MaskField), `filter` (P3 predicate),
 * `drop_fields` (P5), `envelope_encode`/`envelope_decode` (Connect JSON
 * envelope, §1.2), `debezium_unwrap` (A1–A4), plus the rest of the
 * worker's built-in SMT catalog (the reference's `cp-kafka-connect`
 * image ships every `org.apache.kafka.connect.transforms.*` class —
 * that is how `MaskField$Value` resolves at `README.md:105` — so a
 * reference user's config may name any of them via the §2.10
 * `transforms.*.type` seam): `cast`, `insert_field`, `extract_field`,
 * `hoist_field`, `flatten`, `replace_field`, `regex_router`,
 * `timestamp_converter`, `timestamp_router`, `value_to_key`, and the
 * record model's header third (`insert_header`, `header_from`,
 * `drop_headers` over an ordered duplicate-allowing
 * `array<struct<key,value>>` column). Each is a
 * pure Column program (codegen'd, projection-collapsible, so filters
 * behind a rename/hoist/flatten still push to the scan). Omitted by
 * design: `SetSchemaMetadata` (a DataFrame has no Connect schema
 * name/version; the envelope encoder's `name` option is that seam).
 * Beyond the Connect catalog, the LLM corpus-prep operators are
 * stage types too — `dedup_exact`, `quality_gate`, `lang_id`,
 * `hash_sample`, the batch-only near-dup pair `dedup_neardup` /
 * `quality_keeper`, and the stream-safe
 * `dedup_neardup_incremental` (arriving docs scored in-row against
 * a persisted shingle index) — so a user can drive exact-dedup → near-dup
 * clustering → quality gate → language-ID → keyed sink entirely by
 * JSON config through the REST facade (the reference's
 * submit-a-config workflow, README.md:88-109),
 * each stage delegating to the oracle-gated operator library.
 * sinks: `file` (FileStreamSink twin), `noop` (bench), `memory`
 * (tests; streaming only).
 *
 * Batch and streaming share the transform chain verbatim — the same
 * `build` output either `.write`s once or `.writeStream`s forever,
 * which is the engine-side guarantee behind every "streaming variant
 * asserted equal to batch" test in this repo.
 */
object Pipeline {

  /** The declared stage vocabulary — what `GET /connector-plugins`
    * advertises. KEEP IN SYNC with the match arms below (RestFacadeSpec
    * pins representative members of each list). */
  val sourceTypes: Seq[String] = Seq("file", "prom_text", "kafka")
  val transformTypes: Seq[String] = Seq(
    "mask", "mask_when", "redact", "filter", "whitelist", "op_filter",
    "drop_fields", "cast", "insert_field", "extract_field", "hoist_field",
    "flatten", "replace_field", "regex_router", "timestamp_converter",
    "timestamp_router", "value_to_key",
    "insert_header", "header_from", "drop_headers",
    "envelope_encode", "envelope_decode", "debezium_unwrap",
    "dedup_exact", "quality_gate", "lang_id", "hash_sample",
    "dedup_neardup", "quality_keeper", "dedup_neardup_incremental",
    "dedup_neardup_embedding_incremental", "ann_serve")
  val streamSinkTypes: Seq[String] = Seq("file", "memory", "upsert", "jdbc_upsert")

  def source(spec: StageSpec): Source = spec.stageType match {
    case "file" =>
      FileSource(
        spec.optionOr("format", "parquet"),
        spec.option("path"),
        StructType.fromDDL(spec.option("schema")),
        spec.options - "format" - "path" - "schema")
    case "prom_text" =>
      PromTextSource(spec.option("path"), spec.options - "path")
    case "kafka" =>
      KafkaRelaySource(
        spec.option("bootstrap.servers"),
        spec.option("subscribe"),
        spec.optionOr("startingOffsets", "earliest"),
        spec.options.get("maxOffsetsPerTrigger").map(_.toLong))
    case other =>
      throw new IllegalArgumentException(s"unknown source type '$other'")
  }

  /** Connect's SMT predicate framework generalized (reference
    * `predicates.*` + per-transform `predicate`/`negate`,
    * README.md:290,410): reserved options `when` (a SQL boolean over the
    * row; NULL counts as false) and `negate` gate ANY transform —
    * matching rows go through it, the rest pass through unchanged.
    * Filter-family transforms rewrite their keep-condition in place
    * (single scan, no union); value transforms split-apply-union, with
    * columns the transform ADDS (e.g. a gated `insert_field`) padded as
    * typed NULLs on the untouched side — Connect's "record without the
    * field" twin. A gated transform that REMOVES or retypes columns
    * (gated `cast`/`flatten`/...) rejects loudly: one DataFrame has one
    * schema, a per-row conditional schema is not representable.
    * `mask_when` remains the fused single-scan fast path for the common
    * conditional-mask case. */
  def applyTransform(df: DataFrame, t: StageSpec): DataFrame =
    t.options.get("when") match {
      case None => applyTransform0(df, t)
      case Some(p) =>
        val matched = {
          val c = expr(p) <=> lit(true)
          if (t.optionOr("negate", "false").toBoolean) not(c) else c
        }
        val inner = StageSpec(t.stageType, t.options - "when" - "negate")
        t.stageType match {
          case "filter" | "whitelist" | "op_filter" =>
            // keep = NOT matched OR the transform's own keep-condition
            df.filter(not(matched) || keepCondition(inner))
          case _ =>
            val out = applyTransform0(df.filter(matched), inner)
            val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
            val broken = out.schema.fields.collect {
              case f if byName.get(f.name).exists(_ != f.dataType) =>
                s"${f.name} retyped ${byName(f.name)} -> ${f.dataType}"
            } ++ byName.keySet.diff(out.schema.fieldNames.toSet).map(n => s"$n removed")
            require(broken.isEmpty,
              s"${t.stageType}: cannot gate a schema-changing transform with 'when' (${broken.mkString("; ")})")
            val untouched = df.filter(not(matched)).select(
              out.schema.fields.toIndexedSeq.map(f =>
                if (byName.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)): _*)
            out.unionByName(untouched)
        }
    }

  /** The row-keep condition of the filter-family transforms — shared by
    * their plain form and the `when`-gated rewrite above. */
  private def keepCondition(t: StageSpec): Column = t.stageType match {
    case "filter" => expr(t.option("predicate"))
    case "whitelist" =>
      // P2 table/topic whitelist (reference `table.whitelist`,
      // README.md:99; `postgres/connector.json:10`)
      val values = t.option("values").split(",").map(_.trim)
      col(t.optionOr("field", "topic")).isin(values.toIndexedSeq: _*)
    case "op_filter" =>
      // P4 operation filter (reference `skipped.operations`,
      // postgres/connector.json:19) over the unwrapped __op column
      val ops = t.option("ops").split(",").map(_.trim)
      col(t.optionOr("field", "__op")).isin(ops.toIndexedSeq: _*)
    case other =>
      throw new IllegalArgumentException(s"'$other' has no keep-condition")
  }

  /** Append (key, value) string pairs to the headers column, creating
    * it as an empty `array<struct<key,value>>` when absent. */
  private def appendHeaders(df: DataFrame, hc: String,
                            pairs: Seq[(Column, Column)]): DataFrame = {
    val existing =
      if (df.columns.contains(hc)) df(hc)
      else array().cast("array<struct<key:string,value:string>>")
    df.withColumn(hc, concat(existing,
      array(pairs.map { case (k, v) => struct(k.as("key"), v.as("value")) }: _*)))
  }

  private def applyTransform0(df: DataFrame, t: StageSpec): DataFrame = t.stageType match {
    case "mask" =>
      Relational.maskColumn(df, t.option("field"), t.optionOr("replacement", "CENSORED"))
    case "mask_when" =>
      // P6 SMT predicate framework (reference `predicates`/`negate`,
      // README.md:290,410): the transform applies only to records
      // matching the predicate; others pass through unchanged.
      val f = t.option("field")
      df.withColumn(f,
        when(expr(t.option("predicate")),
          lit(t.optionOr("replacement", "CENSORED"))).otherwise(col(f)))
    case "redact" =>
      // PII redaction inside free-text fields — the training-data
      // counterpart of the whole-field mask SMT: every match of the
      // configured pattern classes is replaced by a tag, the rest of
      // the text survives. Built-in classes email/phone/ipv4 plus an
      // optional custom `pattern`/`replacement` pair. Pure chained
      // regexp_replace: codegen'd, scan-local. Rules apply in the
      // class-list order; the default runs email then ipv4 BEFORE the
      // (greedy digits-and-separators) phone pattern, which would
      // otherwise eat dotted-quads. Custom orders own that concern.
      val f = t.option("field")
      // pattern classes shared with the piiScan operator — one source
      // of truth for what counts as email/ipv4/phone
      val tags = Map("email" -> "<EMAIL>", "ipv4" -> "<IP>",
        "phone" -> "<PHONE>")
      val builtin = scala.collection.immutable.ListMap(
        graft.operators.TextMetrics.PiiPatterns.map {
          case (n, re) => n -> (re -> tags(n))
        }: _*)
      val classes = t.optionOr("classes", "email,ipv4,phone")
        .split(",").map(_.trim).filter(_.nonEmpty)
      val rules = classes.map(c => builtin.getOrElse(c,
        throw new IllegalArgumentException(
          s"redact: unknown class '$c' (know: ${builtin.keys.mkString(",")})"))) ++
        t.options.get("pattern").map(_ -> t.optionOr("replacement", "<REDACTED>"))
      df.withColumn(f, rules.foldLeft(col(f)) {
        case (c, (re, tag)) => regexp_replace(c, re, tag)
      })
    case "filter" | "whitelist" | "op_filter" =>
      // P2/P3/P4 — keep-conditions shared with the `when`-gated rewrite
      df.filter(keepCondition(t))
    case "drop_fields" =>
      // P5 drop-fields; with `keep.schema.compatible` (README.md:324) the
      // result must still satisfy a pinned DDL contract, else fail loudly
      val dropped = df.drop(t.option("fields").split(",").map(_.trim): _*)
      t.options.get("keep.schema.compatible.ddl").foreach { ddl =>
        val want = StructType.fromDDL(ddl)
        require(dropped.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          want.fields.map(f => (f.name, f.dataType)).toSeq,
          s"drop_fields: result schema ${dropped.schema.toDDL} is not compatible with pinned '$ddl'")
      }
      dropped
    case "cast" =>
      // Connect `Cast$Value` (`spec` = "field:type,..."): per-field type
      // coercion using Connect's type vocabulary. Whole-value casts are
      // meaningless on a multi-column row; require field:type pairs.
      val sparkType = Map(
        "int8" -> "tinyint", "int16" -> "smallint", "int32" -> "int",
        "int64" -> "bigint", "float32" -> "float", "float64" -> "double",
        "boolean" -> "boolean", "string" -> "string")
      t.option("spec").split(",").map(_.trim).filter(_.nonEmpty).foldLeft(df) { (d, pair) =>
        pair.split(":").map(_.trim) match {
          case Array(f, ty) =>
            val st = sparkType.getOrElse(ty, throw new IllegalArgumentException(
              s"cast: unknown Connect type '$ty' (know: ${sparkType.keys.toSeq.sorted.mkString(",")})"))
            d.withColumn(f, d(f).cast(st))
          case _ => throw new IllegalArgumentException(
            s"cast: bad spec entry '$pair' (want field:type)")
        }
      }
    case "insert_field" =>
      // Connect `InsertField$Value`: `static.field`/`static.value` adds a
      // constant; `timestamp.field` stamps processing time (wall-clock —
      // spec-tested, never used in an oracled query). Kafka coordinates
      // (topic/partition/offset.field) have no batch-file meaning here.
      val withStatic = t.options.get("static.field").fold(df)(f =>
        df.withColumn(f, lit(t.option("static.value"))))
      t.options.get("timestamp.field").fold(withStatic)(f =>
        withStatic.withColumn(f, current_timestamp()))
    case "extract_field" =>
      // Connect `ExtractField$Value`: the record value BECOMES the named
      // (possibly nested, dot-path) field. A struct field expands to its
      // members (the value is that struct); a scalar becomes the single
      // column, keeping its leaf name unless `as` overrides.
      val path = t.option("field").split('.')
      val c = path.tail.foldLeft(df(path.head))(_.getField(_))
      def typeAt(struct: StructType, p: Seq[String]): org.apache.spark.sql.types.DataType =
        p.foldLeft(struct: org.apache.spark.sql.types.DataType) {
          case (s: StructType, n) => s(n).dataType
          case (other, n) => throw new IllegalArgumentException(
            s"extract_field: '$n' addresses into non-struct $other")
        }
      typeAt(df.schema, path.toSeq) match {
        case s: StructType =>
          df.select(s.fieldNames.toIndexedSeq.map(n => c.getField(n).as(n)): _*)
        case _ => df.select(c.as(t.optionOr("as", path.last)))
      }
    case "hoist_field" =>
      // Connect `HoistField$Value`: wrap the entire value in one struct
      // field — the exact inverse of `extract_field` on a struct.
      df.select(struct(df.columns.toIndexedSeq.map(df(_)): _*).as(t.option("field")))
    case "flatten" =>
      // Connect `Flatten$Value`: recursively lift nested struct leaves to
      // top level, joining path segments with `delimiter` (Connect
      // default "."). Arrays/maps pass through opaque at the level they
      // sit, as in Connect.
      val delim = t.optionOr("delimiter", ".")
      def leaves(name: String, c: Column, dt: org.apache.spark.sql.types.DataType): Seq[Column] =
        dt match {
          case s: StructType =>
            s.fields.toSeq.flatMap(f =>
              leaves(name + delim + f.name, c.getField(f.name), f.dataType))
          case _ => Seq(c.as(name))
        }
      df.select(df.schema.fields.toIndexedSeq.flatMap(f =>
        leaves(f.name, df(f.name), f.dataType)): _*)
    case "replace_field" =>
      // Connect `ReplaceField$Value`: `exclude` drops, `renames`
      // ("old:new,...") renames, `include` (applied last, post-rename
      // names) projects-and-orders.
      val excluded = t.options.get("exclude").fold(df)(ex =>
        df.drop(ex.split(",").map(_.trim).toIndexedSeq: _*))
      val renamed = t.options.get("renames").fold(excluded)(_.split(",")
        .map(_.trim).filter(_.nonEmpty).foldLeft(excluded) { (d, pair) =>
          pair.split(":").map(_.trim) match {
            case Array(a, b) => d.withColumnRenamed(a, b)
            case _ => throw new IllegalArgumentException(
              s"replace_field: bad rename '$pair' (want old:new)")
          }
        })
      t.options.get("include").fold(renamed)(inc =>
        renamed.select(inc.split(",").map(n => renamed(n.trim)).toIndexedSeq: _*))
    case "regex_router" =>
      // Connect `RegexRouter`: rewrite the routing column only when the
      // WHOLE value matches `regex` (Connect uses matcher.matches() then
      // replaceFirst) — anchoring preserves that exact semantic.
      val f = t.optionOr("field", "topic")
      val anchored = "^(?:" + t.option("regex") + ")$"
      df.withColumn(f,
        when(df(f).rlike(anchored),
          regexp_replace(df(f), anchored, t.option("replacement")))
          .otherwise(df(f)))
    case "timestamp_converter" =>
      // Connect `TimestampConverter$Value`: in-place conversion of
      // `field` between epoch-int64, formatted string, Timestamp and
      // Date. Source representation is inferred from the column type
      // (numeric = epoch per `unix.precision`, Connect default millis).
      import org.apache.spark.sql.types._
      val f = t.option("field")
      val precision = t.optionOr("unix.precision", "milliseconds")
      def fromUnix(c: Column): Column = precision match {
        case "seconds"      => timestamp_seconds(c)
        case "milliseconds" => timestamp_millis(c)
        case "microseconds" => timestamp_micros(c)
        case p => throw new IllegalArgumentException(
          s"timestamp_converter: unknown unix.precision '$p'")
      }
      def toUnix(c: Column): Column = precision match {
        case "seconds"      => unix_seconds(c)
        case "milliseconds" => unix_millis(c)
        case "microseconds" => unix_micros(c)
        case p => throw new IllegalArgumentException(
          s"timestamp_converter: unknown unix.precision '$p'")
      }
      val asTs: Column = df.schema(f).dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          fromUnix(df(f))
        case _: StringType => to_timestamp(df(f), t.option("format"))
        case _: DateType | _: TimestampType => df(f).cast("timestamp")
        case other => throw new IllegalArgumentException(
          s"timestamp_converter: cannot read $other as a timestamp")
      }
      val out: Column = t.option("target.type") match {
        case "string"    => date_format(asTs, t.option("format"))
        case "unix"      => toUnix(asTs)
        case "Timestamp" => asTs
        case "Date"      => asTs.cast("date")
        case ty => throw new IllegalArgumentException(
          s"timestamp_converter: unknown target.type '$ty'")
      }
      df.withColumn(f, out)
    case "timestamp_router" =>
      // Connect `TimestampRouter`: routing column := `topic.format` with
      // `${topic}` and `${timestamp}` (formatted per `format`,
      // default yyyyMMdd) substituted. Connect reads the record's Kafka
      // timestamp; a batch row has none, so `timestamp.field` is
      // REQUIRED here — which also keeps the transform deterministic.
      val topicCol = t.optionOr("field", "topic")
      val tsStr = date_format(
        df(t.option("timestamp.field")).cast("timestamp"),
        t.optionOr("format", "yyyyMMdd"))
      val fmt = t.optionOr("topic.format", "${topic}-${timestamp}")
      val parts = "\\$\\{topic\\}|\\$\\{timestamp\\}".r
        .split(fmt).toSeq // literal segments
      val holes = "\\$\\{topic\\}|\\$\\{timestamp\\}".r
        .findAllIn(fmt).toSeq
      val pieces = parts.map(lit(_)).zipAll(
        holes.map { case "${topic}" => df(topicCol); case _ => tsStr },
        lit(""), lit("")).flatMap { case (a, b) => Seq(a, b) }
      df.withColumn(topicCol, concat(pieces: _*))
    case "value_to_key" =>
      // Connect `ValueToKey`: copy the listed value fields into the
      // record key — here a struct column (default `__key`), the same
      // shape the keyed upsert sinks consume as `pk`.
      val fields = t.option("fields").split(",").map(_.trim)
      df.withColumn(t.optionOr("as", "__key"),
        struct(fields.toIndexedSeq.map(df(_)): _*))
    case "insert_header" =>
      // Connect `InsertHeader`: append one (header, value.literal) pair.
      // Headers are the record model's third part — an ORDERED,
      // duplicate-allowing list, modeled as `array<struct<key,value>>`
      // (default column `__headers`, created on first use). Values are
      // strings at this seam; typed header values render via cast.
      appendHeaders(df, t.optionOr("headers.column", "__headers"),
        Seq(lit(t.option("header")) -> lit(t.option("value.literal"))))
    case "header_from" =>
      // Connect `HeaderFrom$Value`: copy (or move) the listed record
      // fields into same-positioned header names; `operation=move`
      // drops the source fields afterwards.
      val fields = t.option("fields").split(",").map(_.trim).toIndexedSeq
      val names = t.option("headers").split(",").map(_.trim).toIndexedSeq
      require(fields.size == names.size,
        s"header_from: ${fields.size} fields vs ${names.size} headers")
      val added = appendHeaders(df, t.optionOr("headers.column", "__headers"),
        names.zip(fields).map { case (h, f) => (lit(h), df(f).cast("string")) })
      t.optionOr("operation", "copy") match {
        case "copy" => added
        case "move" => added.drop(fields: _*)
        case other => throw new IllegalArgumentException(
          s"header_from: operation must be copy or move, got '$other'")
      }
    case "drop_headers" =>
      // Connect `DropHeaders`: remove EVERY header whose key is listed
      // (all duplicates of it), keeping the rest in order.
      val hc = t.optionOr("headers.column", "__headers")
      val names = t.option("headers").split(",").map(_.trim).toIndexedSeq
      if (!df.columns.contains(hc)) df
      else df.withColumn(hc,
        filter(df(hc), h => !h.getField("key").isInCollection(names)))
    case "envelope_encode" =>
      // encode the row into one Connect-JSON value column; headers are
      // the record's SIBLING third (they ride beside the serialized
      // value on a Kafka record, each encoded by the header.converter,
      // never inside the value envelope) — so the headers column is
      // excluded from the payload and kept as its own output column
      val hc = t.optionOr("headers.column", "__headers")
      val valueSchema = StructType(df.schema.fields.filterNot(_.name == hc))
      val enc = ConnectJson.encodeEnvelope(valueSchema, t.optionOr("name", "record"))
        .as(t.optionOr("as", "value"))
      if (df.columns.contains(hc)) df.select(enc, df(hc)) else df.select(enc)
    case "envelope_decode" =>
      val schema = StructType.fromDDL(t.option("schema"))
      val src = t.optionOr("column", "value")
      val hc = t.optionOr("headers.column", "__headers")
      val kept = // headers travel beside the value: restore them too
        if (df.columns.contains(hc)) Seq(df(hc)) else Nil
      df.withColumn("__payload", ConnectJson.decodeEnvelope(col(src), schema))
        .select(schema.fields.map(f => col(s"__payload.${f.name}").as(f.name)) ++ kept: _*)
    case "debezium_unwrap" =>
      Debezium.unwrap(df, t.optionOr("column", "value"),
        StructType.fromDDL(t.option("schema")),
        addMetadata = t.optionOr("add.metadata", "true").toBoolean,
        dropTombstones = t.optionOr("drop.tombstones", "false").toBoolean)

    // ---- LLM corpus-prep stages: the dedup / quality / lang-ID /
    // sampling operators as declarative config, so the reference's
    // submit-a-JSON workflow (README.md:88-109) drives training-data
    // prep without writing Scala. Each delegates to the gated operator
    // library — the stage is config plumbing, never a reimplementation.
    case "dedup_exact" =>
      // graft.operators.Dedup.exactSurvivors as a stage: one row per
      // distinct normalized text. Batch keeps the MIN-id row (the
      // exactSurvivors canonical); a stream cannot wait to learn the
      // minimum id, so streaming keeps FIRST ARRIVAL with
      // watermark-bounded 16 B/key state (the dedupAgainstHistoryStream
      // divergence note) and REQUIRES watermark.field/watermark.delay —
      // unbounded dedup state is not a thing this engine configures.
      // Scale posture: place this stage AFTER the scan-side text
      // stages (quality_gate/lang_id) when downstream only consumes
      // derived columns — Catalyst then prunes the text payload from
      // the survivor join's exchange (the q49/q254 lesson; semantics
      // are order-invariant for text-deterministic stages).
      val id = t.option("id.field")
      val text = t.option("text.field")
      if (df.isStreaming) {
        val Seq(h1, h2) = graft.operators.Dedup.textHashKey(col(text))
        val keyed = df.withColumn("__fp_h1", h1).withColumn("__fp_h2", h2)
        graft.streaming.StreamingOps.dedupStream(keyed,
            t.option("watermark.field"), t.option("watermark.delay"),
            Seq("__fp_h1", "__fp_h2"))
          .drop("__fp_h1", "__fp_h2")
      } else
        df.join(graft.operators.Dedup.exactSurvivors(df, id, text),
          Seq(id), "left_semi")
    case "quality_gate" =>
      // the q49 quality gate as config: keep rows with at least
      // `min.tokens` tokens and a stopword share strictly under
      // `max.stop.permille`/1000 — INTEGER threshold arithmetic
      // (1000·n_stop < permille·n_tok), so every engine replays the
      // same keep set; default 500 is exactly `2·n_stop < n_tok`.
      val tks = filter(split(lower(trim(col(t.option("text.field")))), " "),
        x => x =!= "")
      val stop = t.optionOr("stopwords", "the,a,of,and,in,to,is")
        .split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
      val minTok = t.optionOr("min.tokens", "10").toInt
      val permille = t.optionOr("max.stop.permille", "500").toInt
      require(permille >= 0 && permille <= 1000,
        s"quality_gate: max.stop.permille must be in [0, 1000], got $permille")
      val nTok = size(tks)
      val nStop = size(filter(tks, x => x.isInCollection(stop)))
      df.filter(nTok >= minTok &&
        nStop.cast("long") * 1000L < lit(permille.toLong) * nTok.cast("long"))
    case "lang_id" =>
      // the q39 marker-token language-ID as config: `markers` maps each
      // label to its marker tokens ("de:der|die|das|und,en:the|a|of,...");
      // the best score wins with ties to the EARLIEST listed label (the
      // q39 >=-chain convention), all in one codegen'd column program.
      val tks = filter(split(lower(trim(col(t.option("text.field")))), " "),
        x => x =!= "")
      val markers: Seq[(String, Seq[String])] =
        t.optionOr("markers",
            "de:der|die|das|und,en:the|a|of|and,es:el|la|los|y,fr:le|la|les|et")
          .split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq.map { e =>
            e.split(":").map(_.trim) match {
              case Array(l, ws) =>
                l -> ws.split("\\|").map(_.trim).filter(_.nonEmpty).toIndexedSeq
              case _ => throw new IllegalArgumentException(
                s"lang_id: bad markers entry '$e' (want label:w1|w2|...)")
            }
          }
      require(markers.size >= 2, "lang_id: need at least two labels")
      val scores = markers.map { case (l, ws) =>
        l -> size(filter(tks, x => x.isInCollection(ws)))
      }
      val chain = scores.init.zipWithIndex.foldLeft(
          when(lit(false), lit(null).cast("string"))) {
        case (c, ((l, s), i)) =>
          val laterBeats = scores.drop(i + 1).map(_._2)
            .foldLeft(lit(true))((acc, o) => acc && s >= o)
          c.when(laterBeats, l)
      }.otherwise(scores.last._1)
      df.withColumn(t.optionOr("as", "predicted_lang"), chain)
    case "hash_sample" =>
      // graft.operators.Sampling.hashSample as a stage: keep
      // ≈permille/1000 of rows by the portable id hash — deterministic,
      // engine-replayable, a pure filter (stream-safe).
      graft.operators.Sampling.hashSample(df, t.option("id.field"),
        t.option("permille").toInt)
    case "dedup_neardup" =>
      // the q60 flagship near-dup stage as config: MinHash/LSH candidate
      // pairs (Dedup.nearDupPairs) -> connected-component clusters
      // (dupClusters) -> keep each cluster's MINIMUM-id member plus every
      // unclustered doc. BATCH-ONLY by construction (the pair graph needs
      // the whole corpus; `validate` rejects it on the streaming path
      // loudly). Scale posture: the drop list is cluster members only —
      // a vanishing fraction of the corpus — and the text column never
      // rides the anti-join exchange (id-keyed).
      require(!df.isStreaming, "dedup_neardup: batch-only — near-dup " +
        "clustering folds the whole corpus's pair graph; run it through " +
        "runBatch, not a streaming submit")
      val (id, pairs) = nearDupPairsFor(df, t)
      val clusters = graft.operators.Dedup.dupClusters(pairs, "d1", "d2")
      val dropIds = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(id))
      df.join(dropIds, Seq(id), "left_anti")
    case "quality_keeper" =>
      // the q225 keeper stage as config: same pair graph + clusters, but
      // each cluster keeps its HIGHEST hashed-quality-score member
      // (score desc, id asc — Dedup.qualityCanonical) instead of the
      // minimum id; unclustered docs always survive. BATCH-ONLY like
      // dedup_neardup.
      require(!df.isStreaming, "quality_keeper: batch-only — near-dup " +
        "clustering folds the whole corpus's pair graph; run it through " +
        "runBatch, not a streaming submit")
      val dims = t.optionOr("score.dims", "64").toInt
      require(dims >= 1, s"quality_keeper: score.dims must be >= 1, got $dims")
      val (id, pairs) = nearDupPairsFor(df, t)
      val clusters = graft.operators.Dedup.dupClusters(pairs, "d1", "d2")
      val scored = graft.operators.TextMetrics.hashedLinearScoreInRow(
        df, id, t.option("text.field"), dims = dims)
      val keepers = graft.operators.Dedup.qualityCanonical(
        clusters, "id", "cluster_id", scored, id, "score")
      val dropIds = clusters
        .join(keepers.select(col("cluster_id"), col("keeper_id")),
          "cluster_id")
        .filter(col("id") =!= col("keeper_id"))
        .select(col("id").as(id))
      df.join(dropIds, Seq(id), "left_anti")
    case "dedup_neardup_incremental" =>
      // q255's incremental posture as config: arriving docs score
      // against a PERSISTED shingle index (Dedup.shingleHashRows
      // output at index.path — columns __id/__sh) and the stage emits
      // the directed containment pairs at threshold.num/threshold.den
      // in both directions. TWO result-identical gears (spec-pinned
      // equal): batch inputs take the prefix-filtered JOIN form
      // (containmentAgainstIndex — index size unbounded, hash rows
      // only on the exchanges); streams take the IN-ROW form
      // (containmentAgainstIndexInRow — the index folds to two
      // one-row broadcasts, scoring is map-only, so append mode runs
      // it unchanged; bounded to executor-fitting indexes, the
      // bigramNllAgainst caveat). The index never re-shingles either
      // way.
      val idx = df.sparkSession.read.parquet(t.option("index.path"))
      val (id2, text2) = (t.option("id.field"), t.option("text.field"))
      val (tn, td) = (t.optionOr("threshold.num", "7").toInt,
        t.optionOr("threshold.den", "10").toInt)
      val sw = t.optionOr("shingle.width", "3").toInt
      if (df.isStreaming)
        graft.operators.Dedup.containmentAgainstIndexInRow(
          df, id2, text2, idx, tNum = tn, tDen = td, shingleWidth = sw)
      else
        graft.operators.Dedup.containmentAgainstIndex(
          df, id2, text2, idx, tNum = tn, tDen = td, shingleWidth = sw)
    case "dedup_neardup_embedding_incremental" =>
      // the dedup_neardup_incremental posture for EMBEDDING space:
      // arriving vectors score against a PERSISTED sign-LSH code table
      // (Dedup.embeddingCodeRows output at index.path — columns
      // __id/__c/__v/__n) and the stage emits (d1 = arriving, d2 =
      // history, cosine) pairs whose codes differ in <= code.radius
      // bits and whose exact cosine >= threshold. The hyperplane
      // geometry is RE-DERIVED from (planes.bits, dim, seed) —
      // Similarity.hyperplanes is deterministic, so the config IS the
      // geometry and the index never stores planes. Two
      // result-identical gears (spec-pinned equal): batch inputs take
      // the chunk-key JOIN form (embeddingNearDupAgainstIndex — index
      // size unbounded, hash rows only on the exchanges); streams
      // take the IN-ROW form (embeddingNearDupAgainstIndexInRow — the
      // index folds to one broadcast posting map, scoring is
      // map-only, append-safe; executor-bounded index, the
      // bigramNllAgainst caveat). History is never re-coded.
      val eIdx = df.sparkSession.read.parquet(t.option("index.path"))
      val ePlanes = graft.operators.Similarity.hyperplanes(
        t.optionOr("planes.bits", "8").toInt,
        t.optionOr("dim", "64").toInt,
        t.optionOr("seed", "42").toLong)
      val eId = t.option("id.field")
      val eRadius = t.optionOr("code.radius", "2").toInt
      val eThr = t.optionOr("threshold", "0.3").toDouble
      // optional bounded posture: top.k keeps each arriving doc's k
      // best history matches (output <= batch*k regardless of history
      // density — the q297 contract). Per-key ranking is an
      // aggregation, so the bounded form is batch-only; a streaming
      // submit with top.k must fail loudly at build, not emit the
      // unbounded threshold pairs under a bounding name.
      val eTopK = t.options.get("top.k").map(_.toInt)
      val eSrc = df.withColumn("__vecd",
        col(t.option("vec.field")).cast("array<double>"))
      if (df.isStreaming) {
        require(eTopK.isEmpty,
          s"${t.stageType}: top.k is batch-only (per-doc ranking needs " +
            "an aggregation; append-mode streams take the threshold " +
            "form) — drop top.k or submit as batch")
        graft.operators.Dedup.embeddingNearDupAgainstIndexInRow(
          eSrc, eId, "__vecd", eIdx, ePlanes, eRadius, eThr)
      } else eTopK match {
        case Some(kk) =>
          graft.operators.Dedup.embeddingNearDupAgainstIndexTopK(
            eSrc, eId, "__vecd", eIdx, ePlanes, eRadius, eThr, kk)
        case None =>
          graft.operators.Dedup.embeddingNearDupAgainstIndex(
            eSrc, eId, "__vecd", eIdx, ePlanes, eRadius, eThr)
      }
    case "ann_serve" =>
      // REST-declarable ANN serving over PERSISTED model assets — the
      // dedup_neardup_embedding_incremental posture for retrieval: the
      // pipeline's relation is the PROBE stream/batch, `model.path`
      // holds the trained assets, and the gear picks by posture
      // (batch = cell-pruned join; stream = in-row over broadcast
      // model rows — map-only, append-safe, executor-bounded index by
      // the documented caveat). model.type selects the representation:
      //  - "ivf":   model.path/{centroids,cells} — raw-vector cell
      //             index (Similarity.ivfCellIndex), exact cosine
      //  - "ivfpq": model.path/{coarse,codebook,codes} — PQ codes
      //             only (Similarity.pqCodeCells), exact-BIGINT ADC;
      //             the float corpus is read zero times at serve
      val mPath = t.option("model.path")
      val (mId, mVec) = (t.option("id.field"), t.option("vec.field"))
      val mK = t.optionOr("k", "3").toInt
      val mNp = t.optionOr("nprobe", "4").toInt
      val mSrc = df.withColumn("__vecd", col(mVec).cast("array<double>"))
      val rd = df.sparkSession.read
      t.optionOr("model.type", "ivf") match {
        case "ivf" =>
          val cents = rd.parquet(s"$mPath/centroids")
          val cells = rd.parquet(s"$mPath/cells")
          if (df.isStreaming)
            graft.operators.Similarity.ivfServeInRow(
              mSrc, mId, "__vecd", cents, cells, mK, mNp)
          else
            graft.operators.Similarity.ivfServe(
              cells, cents, mSrc, mId, "__vecd", mK, mNp)
        case "ivfpq" =>
          val pm = t.optionOr("pq.m", "4").toInt
          val pDim = t.optionOr("dim", "64").toInt
          val coarse = rd.parquet(s"$mPath/coarse")
          val book = rd.parquet(s"$mPath/codebook")
          val codes = rd.parquet(s"$mPath/codes")
          if (df.isStreaming)
            graft.operators.Similarity.ivfPqServeInRow(
              mSrc, mId, "__vecd", coarse, book, codes, mK, mNp, pm, pDim)
          else
            graft.operators.Similarity.ivfPqServe(
              codes, coarse, book, mSrc, mId, "__vecd", mK, mNp, pm, pDim)
        case other => throw new IllegalArgumentException(
          s"ann_serve: unknown model.type '$other' (expected ivf | ivfpq)")
      }
    case other =>
      throw new IllegalArgumentException(s"unknown transform type '$other'")
  }

  /** Shared option parsing + candidate-pair generation for the two
    * near-dup stages: id/text fields, jaccard threshold in (0, 1],
    * MinHash/LSH shape (defaults = the q60/q225 gate parameters). */
  private def nearDupPairsFor(df: DataFrame, t: StageSpec)
      : (String, DataFrame) = {
    val id = t.option("id.field")
    val text = t.option("text.field")
    val threshold = t.optionOr("threshold", "0.8").toDouble
    require(threshold > 0.0 && threshold <= 1.0,
      s"${t.stageType}: threshold must be in (0, 1], got $threshold")
    val shingleWidth = t.optionOr("shingle.width", "3").toInt
    val bands = t.optionOr("bands", "16").toInt
    val rowsPerBand = t.optionOr("rows.per.band", "3").toInt
    require(shingleWidth >= 1 && bands >= 1 && rowsPerBand >= 1,
      s"${t.stageType}: shingle.width/bands/rows.per.band must be >= 1, " +
        s"got $shingleWidth/$bands/$rowsPerBand")
    (id, graft.operators.Dedup.nearDupPairs(df, id, text,
      threshold = threshold, shingleWidth = shingleWidth,
      bands = bands, rowsPerBand = rowsPerBand))
  }

  /** The (lazy) DataFrame program for a spec: source + transform chain.
    * Config-provider placeholders resolve HERE (use time), not at parse
    * time — stored specs and `GET .../config` readbacks keep the raw
    * `${file:...}`/`${env:...}` form (see [[ConfigProviders]]). */
  def build(spark: SparkSession, spec0: PipelineSpec, streaming: Boolean): DataFrame = {
    val spec = ConfigProviders.resolve(spec0)
    val src = source(spec.source)
    val df0 = if (streaming) src.stream(spark) else src.batch(spark)
    spec.transforms.foldLeft(df0)(applyTransform)
  }

  /** Run a spec as a one-shot batch job. */
  def runBatch(spark: SparkSession, spec: PipelineSpec): Unit = {
    val df = build(spark, spec, streaming = false)
    val s = ConfigProviders.resolveStage(spec.sink)
    s.stageType match {
      case "file" =>
        df.write.format(s.optionOr("format", "parquet"))
          .mode(s.optionOr("mode", "append")).save(s.option("path"))
      case "noop" =>
        df.write.format("noop").mode("overwrite").save()
      case other =>
        throw new IllegalArgumentException(s"unknown batch sink type '$other'")
    }
  }

  /** Statically validate a streaming sink spec: known type + every
    * option the `runStream` sink match will demand. Lets the registry
    * reject a bad config BEFORE stopping a running pipeline — start()
    * itself is the only failure left after this passes. Validates the
    * RESOLVED options, so a mis-wired `${file:...}` secret (or a
    * placeholder in `dialect`) also rejects at submit time. */
  def validateStreamSink(s0: StageSpec): Unit = {
    val s = ConfigProviders.resolveStage(s0)
    val required: Seq[String] = s.stageType match {
      case "file"        => Seq("checkpoint", "path")
      case "memory"      => Seq("name", "checkpoint")
      case "upsert"      => Seq("path", "pk", "checkpoint")
      case "jdbc_upsert" => Seq("url", "table", "pk", "dialect", "checkpoint")
      case other =>
        throw new IllegalArgumentException(s"unknown stream sink type '$other'")
    }
    required.foreach { k => s.option(k); () } // throws on a missing option
    // a bad dialect name must reject at submit time, not first micro-batch
    if (s.stageType == "jdbc_upsert") {
      graft.sinks.UpsertDialect.forName(s.option("dialect")); ()
    }
    // error-policy keys: reject a bad tolerance value, a DLQ config with
    // missing parts, or an errors.* key on a sink that cannot honor it
    // (file/memory do not go through foreachBatch) at submit time
    val keyedSink = s.stageType == "upsert" || s.stageType == "jdbc_upsert"
    if (!keyedSink && s.options.keys.exists(_.startsWith("errors.")))
      throw new IllegalArgumentException(
        s"${s.stageType}: errors.* options are only honored by the keyed sinks (upsert, jdbc_upsert)")
    s.optionOr("errors.tolerance", "none") match {
      case "none" => ()
      case "all"  => s.option("errors.dlq.path"); s.option("errors.predicate"); ()
      case other  => throw new IllegalArgumentException(
        s"errors.tolerance must be 'none' or 'all', got '$other'")
    }
    require(s.optionOr("errors.retry.attempts", "1").toInt >= 1,
      "errors.retry.attempts must be >= 1")
  }

  /** CDC delete flag for the keyed sinks. An EXPLICIT `deleted.column`
    * must resolve (a typo'd CDC config fails loudly at start); the
    * DEFAULT `__deleted` only applies when the stream actually carries
    * it — a non-CDC pipeline (e.g. the corpus-prep stages) upserts
    * everything without having to synthesize a dummy flag column. */
  private def deletedPredicate(df: DataFrame, s: StageSpec): Column =
    s.options.get("deleted.column") match {
      case Some(c) => col(c) === "true"
      case None if df.columns.contains("__deleted") => col("__deleted") === "true"
      case None => lit(false)
    }

  /** Newest-wins merge ordering for keyed sinks: the configured order
    * columns plus a deterministic whole-row tie-breaker (same-key rows
    * with equal order values in one micro-batch must pick the same
    * winner on every replay, or the sink's idempotency contract
    * breaks). Spark refuses to hash MapType (unordered), so top-level
    * maps enter the hash as sorted entry arrays — canonical, so two
    * rows differing only in a map column still get distinct hashes.
    * Only maps nested INSIDE deeper types fall out of the hash (no
    * canonical form expressible without reshaping the value type). */
  private def mergeOrder(df: DataFrame, s: StageSpec): Seq[Column] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType    => true
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType  => hasMap(a.elementType)
      case _             => false
    }
    val hashable = df.schema.fields.flatMap { f =>
      f.dataType match {
        case m: MapType if !hasMap(m.keyType) && !hasMap(m.valueType) =>
          Some(array_sort(map_entries(col(f.name))))
        case dt if hasMap(dt) => None
        case _ => Some(col(f.name))
      }
    }.toSeq
    s.optionOr("order", "__ts_ms").split(",").map(_.trim)
      .map(c => col(c).desc).toSeq ++
      (if (hashable.nonEmpty) Seq(xxhash64(hashable: _*).desc) else Nil)
  }

  /** Start a spec as a streaming query (ST1 checkpoint required for
    * durable sinks; ST4 trigger from `trigger.ms`, default 200 — the
    * reference's `poll.interval.ms`, README.md:100). */
  def runStream(spark: SparkSession, spec: PipelineSpec): StreamingQuery = {
    val df = build(spark, spec, streaming = true)
    val s = ConfigProviders.resolveStage(spec.sink)
    // ST4: poll cadence (reference poll.interval.ms=200) or a one-shot
    // drain-everything run (`trigger = availableNow`, the bulk-catchup
    // mode S3 maps to)
    val trigger =
      if (s.optionOr("trigger", "") == "availableNow") Trigger.AvailableNow()
      else Trigger.ProcessingTime(s.optionOr("trigger.ms", "200").toLong)
    s.stageType match {
      case "file" =>
        df.writeStream.format(s.optionOr("format", "parquet"))
          .option("checkpointLocation", s.option("checkpoint"))
          .option("path", s.option("path"))
          .outputMode("append").trigger(trigger).start()
      case "memory" =>
        df.writeStream.format("memory").queryName(s.option("name"))
          .option("checkpointLocation", s.option("checkpoint"))
          .outputMode(s.optionOr("outputMode", "append")).trigger(trigger).start()
      case "upsert" =>
        // A5 JDBC-sink-shaped upsert: keyed MERGE per micro-batch with
        // CDC delete semantics (pk/order/deleted options). Each epoch is
        // one newest-wins pass over snapshot ∪ batch: one hash exchange on
        // pk, about the cost of the copy-on-write snapshot rewrite it feeds
        val table = new graft.sinks.ParquetKeyedTable(
          s.option("path"), s.option("pk").split(",").map(_.trim).toSeq)
        val deleted = deletedPredicate(df, s)
        df.writeStream
          .option("checkpointLocation", s.option("checkpoint"))
          .outputMode("append").trigger(trigger)
          .foreachBatch(errorPolicy(s)(
            table.foreachBatchMerge(mergeOrder(df, s), deleted)))
          .start()
      case "jdbc_upsert" =>
        // A5's actual production target: per-dialect INSERT..ON CONFLICT /
        // INSERT OR REPLACE / MERGE INTO against a live database
        // (reference insert.mode=upsert + pk.fields,
        // etc/sink-quickstart-sqlite.properties:19-29)
        val table = new graft.sinks.JdbcKeyedTable(
          s.option("url"), s.option("table"),
          s.option("pk").split(",").map(_.trim).toSeq,
          graft.sinks.UpsertDialect.forName(s.option("dialect")),
          s.options.filter(_._1.startsWith("conn.")).map {
            case (k, v) => k.stripPrefix("conn.") -> v
          })
        val deleted = deletedPredicate(df, s)
        df.writeStream
          .option("checkpointLocation", s.option("checkpoint"))
          .outputMode("append").trigger(trigger)
          .foreachBatch(errorPolicy(s)(
            table.foreachBatchMerge(mergeOrder(df, s), deleted)))
          .start()
      case other =>
        throw new IllegalArgumentException(s"unknown stream sink type '$other'")
    }
  }

  /** The reference's declarative error surface (ST3: `errors.tolerance`,
    * `errors.retry.*`, DLQ topic — README.md:280-284) as sink options on
    * the keyed foreachBatch sinks:
    *
    *   errors.retry.attempts / .delay.ms / .delay.max.ms → Dlq.withRetry
    *     (transient-only exponential backoff; safe because the keyed
    *     sinks replay an epoch idempotently)
    *   errors.tolerance = all + errors.dlq.path + errors.predicate
    *     [+ errors.reason] → Dlq.withDlq (bad rows quarantined with
    *     metadata; clean remainder continues). `errors.predicate` is the
    *     columnar analog of Connect's per-record conversion failure: a
    *     SQL boolean marking rows the sink must not see.
    *
    * Composition order: route to the DLQ FIRST, retry the clean-row sink
    * inside — a poison row must never burn retry attempts. */
  private def errorPolicy(s: StageSpec)(
      base: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val attempts = s.optionOr("errors.retry.attempts", "1").toInt
    val retried =
      if (attempts <= 1) base
      else graft.sinks.Dlq.withRetry(attempts,
        s.optionOr("errors.retry.delay.ms", "100").toLong,
        s.optionOr("errors.retry.delay.max.ms", "10000").toLong)(base)
    s.optionOr("errors.tolerance", "none") match {
      case "none" => retried
      case "all" =>
        val reason = s.options.get("errors.reason").map(expr)
          .getOrElse(lit(s.option("errors.predicate")))
        graft.sinks.Dlq.withDlq(
          expr(s.option("errors.predicate")), reason,
          s.option("errors.dlq.path"))(retried)
      case other => throw new IllegalArgumentException(
        s"errors.tolerance must be 'none' or 'all', got '$other'")
    }
  }
}
