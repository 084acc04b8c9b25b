package graft.config

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** YAML/JSON source-config loader + by-name registry.
  *
  * Replaces the reference's SSM Parameter Store fetch
  * (transform_data.py:21-34, api_ingestion/handler.py:83-99) with a
  * local registry keeping the same lookup-by-name contract (SURVEY S14).
  * snakeyaml preserves key order, so mapping/transform declaration order
  * survives parsing — declaration order is part of the DSL's semantics.
  */
object ConfigLoader {

  def fromFile(path: String, resolver: TemplateResolver = noopResolver): SourceConfig =
    fromYaml(Files.readString(Paths.get(path)), resolver)

  /** Registry over a directory of `<name>.yaml` configs (S14). */
  def registry(dir: String, resolver: TemplateResolver = noopResolver): String => SourceConfig = {
    name =>
      val p: Path = Paths.get(dir, s"$name.yaml")
      if (!Files.exists(p))
        throw new NoSuchElementException(s"No config named '$name' in $dir")
      fromFile(p.toString, resolver)
  }

  def noopResolver: TemplateResolver = TemplateResolver.fromMaps()

  def fromYaml(yaml: String, resolver: TemplateResolver = noopResolver): SourceConfig = {
    val root = new Yaml().load[java.util.Map[String, Object]](yaml)
    val src = obj(asMap(root), "source").getOrElse(asMap(root))

    def str(m: Map[String, Any], k: String, default: String = ""): String =
      m.get(k).map(v => resolver.resolve(String.valueOf(v))).getOrElse(default)
    def optStr(m: Map[String, Any], k: String): Option[String] =
      m.get(k).map(v => resolver.resolve(String.valueOf(v)))
    def int(m: Map[String, Any], k: String, default: Int): Int =
      m.get(k).map(v => String.valueOf(v).toDouble.toInt).getOrElse(default)
    def bool(m: Map[String, Any], k: String, default: Boolean): Boolean =
      m.get(k).map(v => String.valueOf(v).toBoolean).getOrElse(default)
    def strSeq(m: Map[String, Any], k: String): Seq[String] = m.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map(v => resolver.resolve(String.valueOf(v)))
      case Some(s) => Seq(resolver.resolve(String.valueOf(s)))
      case None => Nil
    }

    def mappingTargets(m: Map[String, Any]): Seq[(String, MappingTarget)] =
      m.toSeq.map {
        case (k, v: java.util.Map[_, _]) =>
          k -> MappingTarget.Struct(mappingTargets(asMap(v.asInstanceOf[java.util.Map[String, Object]])))
        case (k, v) => k -> MappingTarget.Path(resolver.resolve(String.valueOf(v)))
      }

    val schemaM = obj(src, "schema").getOrElse(Map.empty)
    val schema = SchemaConfig(
      inputFormat = str(schemaM, "type", "json"),
      mapping = obj(schemaM, "mapping").map(mappingTargets).getOrElse(Nil),
      required = strSeq(schemaM, "required"),
      maxErrors = schemaM.get("max_errors").map(v => String.valueOf(v).toDouble.toInt),
      transformations = seq(schemaM, "transformations").map { t =>
        TransformSpec(
          field = str(t, "field"),
          kind = str(t, "type"),
          format = optStr(t, "format"),
          pattern = optStr(t, "pattern"),
          replacement = optStr(t, "replacement"))
      })

    def zone(m: Map[String, Any]): DestinationZone = DestinationZone(
      bucket = str(m, "bucket"),
      prefix = str(m, "prefix"),
      format = str(m, "format", "parquet"),
      partitionBy = strSeq(m, "partitionBy"))

    val destM = obj(src, "destination").getOrElse(Map.empty)
    val dest = Destination(
      raw = obj(destM, "raw").map(zone),
      processed = obj(destM, "processed").map(zone))

    val cfgM = obj(src, "config").getOrElse(Map.empty)
    val api = if (str(src, "type") == "rest_api" && cfgM.nonEmpty) Some {
      val pag = obj(cfgM, "pagination").map { p =>
        PaginationConfig(
          enabled = bool(p, "enabled", default = true),
          style = str(p, "style", if (p.contains("page_param")) "page"
                       else if (p.contains("next_url_path")) "next_token" else "offset"),
          limitParam = str(p, "limit_param", "limit"),
          offsetParam = str(p, "offset_param", "offset"),
          pageParam = str(p, "page_param", "page"),
          nextUrlPath = str(p, "next_url_path", "next"),
          maxPages = int(p, "max_pages", 10))
      }
      val retry = obj(cfgM, "retry").map { r =>
        RetryConfig(int(r, "attempts", 3), str(r, "backoff", "exponential"),
          r.get("base_seconds").map(v => String.valueOf(v).toDouble).getOrElse(1.0))
      }.getOrElse(RetryConfig())
      val auth = obj(cfgM, "auth").map { a =>
        AuthConfig(str(a, "type", "bearer"), optStr(a, "username"),
          optStr(a, "password"), optStr(a, "token"))
      }
      ApiConfig(
        endpoint = str(cfgM, "endpoint"),
        method = str(cfgM, "method", "GET"),
        headers = obj(cfgM, "headers").getOrElse(Map.empty)
          .map { case (k, v) => k -> resolver.resolve(String.valueOf(v)) },
        parameters = obj(cfgM, "parameters").getOrElse(Map.empty)
          .map { case (k, v) => k -> resolver.resolve(String.valueOf(v)) },
        body = optStr(cfgM, "body"),
        pagination = pag,
        timeoutSeconds = int(cfgM, "timeout", 30),
        retry = retry,
        auth = auth)
    } else None

    val email = obj(src, "email").map { e =>
      EmailConfig(strSeq(e, "allowed_senders"), strSeq(e, "allowed_extensions"),
        str(e, "landing_prefix"))
    }

    val stream = obj(src, "stream").map { st =>
      StreamConfig(
        format = str(st, "format", "json"),
        landingPath = str(st, "landing_path"),
        brokers = str(st, "brokers"),
        topic = str(st, "topic"),
        streamName = str(st, "stream_name"),
        region = str(st, "region"),
        watermarkColumn = str(st, "watermark_column", "ts"),
        watermarkDelay = str(st, "watermark_delay", "10 minutes"),
        windowDuration = optStr(st, "window_duration"),
        dedupKeys = strSeq(st, "dedup_keys"),
        checkpointDir = str(st, "checkpoint_dir"),
        outputPath = str(st, "output_path"),
        maxFilesPerTrigger = int(st, "max_files_per_trigger", 100))
    }

    val curation = obj(src, "curation").map { c =>
      val q = obj(c, "quality").getOrElse(Map.empty)
      val ch = obj(c, "chunk").getOrElse(Map.empty)
      val sh = obj(c, "shard").getOrElse(Map.empty)
      def long(m: Map[String, Any], k: String, default: Long): Long =
        m.get(k).map(v => String.valueOf(v).toDouble.toLong).getOrElse(default)
      def dbl(m: Map[String, Any], k: String, default: Double): Double =
        m.get(k).map(v => String.valueOf(v).toDouble).getOrElse(default)
      // Every default is read off the case class's own default instance,
      // so the config classes stay the one source of the defaults.
      val d = CurationConfig()
      CurationConfig(
        idField = str(c, "id_field", d.idField),
        textField = str(c, "text_field", d.textField),
        stratumField = str(c, "stratum_field", d.stratumField),
        minTokens = long(q, "min_tokens", d.minTokens),
        maxTokens = long(q, "max_tokens", d.maxTokens),
        minStopRatio = dbl(q, "min_stop_ratio", d.minStopRatio),
        dedup = str(c, "dedup", d.dedup),
        mix = bool(c, "mix", d.mix),
        chunkTokens = int(ch, "tokens", d.chunkTokens),
        chunkOverlap = int(ch, "overlap", d.chunkOverlap),
        shardBudget = long(sh, "budget", d.shardBudget),
        shardBucketWidth = long(sh, "bucket_width", d.shardBucketWidth),
        semanticDedup = obj(c, "semantic_dedup").map { sd =>
          val d = SemanticDedupConfig()
          SemanticDedupConfig(
            tau = dbl(sd, "tau", d.tau),
            policy = str(sd, "policy", d.policy),
            qualityField = str(sd, "quality_field", d.qualityField))
        },
        similarity = obj(c, "similarity").map { si =>
          val d = SimilarityConfig()
          SimilarityConfig(
            queryBound = int(si, "query_bound", d.queryBound),
            k = int(si, "k", d.k),
            candWhere = optStr(si, "cand_where"),
            evalRecall = bool(si, "eval_recall", d.evalRecall),
            retrainWhen = obj(si, "retrain_when").map { rw =>
              val d = RetrainWhenConfig()
              RetrainWhenConfig(
                maxDeltaPct = int(rw, "max_delta_pct", d.maxDeltaPct),
                maxCellRatio = int(rw, "max_cell_ratio", d.maxCellRatio))
            })
        },
        decontam = obj(c, "decontam").map { dc =>
          val d = DecontamConfig(evalWhere = str(dc, "eval_where"))
          d.copy(
            shingleLen = int(dc, "shingle_len", d.shingleLen),
            minShared = int(dc, "min_shared", d.minShared))
        },
        dsir = obj(c, "dsir").map { ds =>
          DsirConfig(
            keepNum = int(ds, "keep_num", DsirConfig().keepNum),
            targetWhere = optStr(ds, "target_where"))
        },
        substrDedup = obj(c, "substr_dedup").map { sd =>
          SubstrDedupConfig(windowLen = int(sd, "window_len", SubstrDedupConfig().windowLen))
        },
        lmBuckets = obj(c, "lm_buckets").map { lb =>
          LmBucketsConfig(
            langField = str(lb, "lang_field", LmBucketsConfig().langField),
            refWhere = optStr(lb, "ref_where"))
        },
        gopher = obj(c, "gopher").map { g =>
          val d = GopherConfig()
          GopherConfig(flagOnly = bool(g, "flag_only", d.flagOnly),
            lineRules = bool(g, "line_rules", d.lineRules),
            repetition = bool(g, "repetition", d.repetition))
        },
        c4 = obj(c, "c4").map { g =>
          val d = C4Config(blockWords = strSeq(g, "block_words"))
          d.copy(flagOnly = bool(g, "flag_only", d.flagOnly))
        },
        charset = obj(c, "charset").map { g =>
          CharsetConfig(flagOnly = bool(g, "flag_only", CharsetConfig().flagOnly))
        },
        html = obj(c, "html").map { h =>
          HtmlConfig(minCleanChars = long(h, "min_clean_chars", HtmlConfig().minCleanChars))
        })
    }

    val wh = obj(src, "redshift").orElse(obj(src, "warehouse")).map { w =>
      WarehouseConfig(
        schema = str(w, "schema"),
        table = str(w, "table"),
        distkey = optStr(w, "distkey"),
        sortkey = strSeq(w, "sortkey"),
        vacuumStrategy = str(w, "vacuum_strategy", "auto"),
        analyze = bool(w, "analyze", default = true),
        allowColumnEvolution = bool(w, "allow_column_evolution", default = false))
    }

    val qcs = seq(src, "quality_checks").map { q =>
      QualityCheck(
        kind = str(q, "type"),
        columns = strSeq(q, "columns") ++ optStr(q, "column").toSeq,
        pattern = q.get("pattern").map(String.valueOf(_))) // patterns are literal: no templating
    }

    val monM = obj(src, "monitoring").getOrElse(Map.empty)
    val mon = Monitoring(
      metrics = seq(monM, "metrics").map { m =>
        MetricSpec(str(m, "name"),
          m.get("threshold").map(v => String.valueOf(v).toDouble).getOrElse(0.0),
          str(m, "comparison", "GreaterThan"),
          int(m, "evaluation_periods", 1))
      },
      notifications = seq(monM, "notifications").map { n =>
        NotificationSpec(str(n, "type"), strSeq(n, "recipients"), optStr(n, "channel"))
      })

    SourceConfig(
      name = str(src, "name"),
      sourceType = SourceType.parse(str(src, "type", "file")),
      description = str(src, "description"),
      api = api,
      email = email,
      stream = stream,
      schema = schema,
      destination = dest,
      warehouse = wh,
      qualityChecks = qcs,
      monitoring = mon,
      schedule = optStr(cfgM, "schedule").orElse(optStr(src, "schedule")),
      curation = curation)
  }

  // ---- untyped-tree helpers (snakeyaml gives LinkedHashMap/ArrayList) ----

  private def asMap(m: java.util.Map[String, Object]): Map[String, Any] = {
    // LinkedHashMap → ListMap preserves declaration order
    val entries = m.asScala.toSeq.map { case (k, v) => (k, v: Any) }
    scala.collection.immutable.ListMap(entries: _*)
  }

  private def obj(m: Map[String, Any], k: String): Option[Map[String, Any]] =
    m.get(k).collect { case jm: java.util.Map[_, _] =>
      asMap(jm.asInstanceOf[java.util.Map[String, Object]])
    }

  private def seq(m: Map[String, Any], k: String): Seq[Map[String, Any]] =
    m.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.collect {
        case jm: java.util.Map[_, _] => asMap(jm.asInstanceOf[java.util.Map[String, Object]])
      }
      case _ => Nil
    }
}
