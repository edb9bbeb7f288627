"""The quality-filter pipeline: one lazy DataFrame plan.

The reference's luigi DAG (fmask → gqa → s2cloudless per granule,
/root/reference/eugl/gqa/tasks.py:90-106) collapses into a single
Catalyst plan: salted repartition → consolidated per-document QA
kernel (ONE Arrow boundary: extract → tokenize → heuristic metrics →
langid → perplexity → scrub, see models/doc_kernel.py for why one
boundary) → native verdict when-chain → qa struct → bucketed output.

Catalyst owns the relational work: gating precedence, hashing,
partitioning, pruning — a keep-rate aggregation over the output only
reads scalar columns. Drop-reason precedence = constants
.DROP_PRECEDENCE; the kernel computes each metric only if evaluation
reached its rule (the oracle's NaN-doc pattern,
/root/reference/eugl/gqa/geometric_utils.py:434-450), so the qa
struct is oracle-shaped by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eugl_spark import constants as C
from eugl_spark.functions.hosts import host_of
from eugl_spark.models.doc_kernel import qa_kernel_udf


def host(url: Column) -> Column:
    # THE shared host derivation (functions/hosts.py): one expression
    # for the pipeline's bucketing/host-rules AND the web-graph
    # family, so a crawl row keys to the same host in every stage.
    # (Regex, not try_parse_url: the SQL oracles must mirror it
    # verbatim, and a regex never ANSI-fails on malformed urls.)
    return host_of(url)


def salted_bucket(url: Column) -> Column:
    """Stable output-partition key: hash of url-host.

    At 10^12 docs a single hot host (en.wikipedia.org) would own an
    entire partition; bucket = pmod(xxhash64(host), N_BUCKETS) spreads
    hosts, and `salt` (below) additionally splits rows *within* a hot
    host across shuffle partitions (north_rule skew clause).
    """
    return F.pmod(F.xxhash64(host(url)), F.lit(C.N_BUCKETS)).cast("int")


def salt(url: Column, partitions: int) -> Column:
    return F.pmod(F.xxhash64(url), F.lit(-(-partitions // 4))).cast("int")


def apply_pipeline(
    pages: DataFrame,
    with_udf_stages: bool = True,  # kept for API compat; kernel always runs
    repartition_to: int | None = None,
    host_rules: DataFrame | None = None,
    path_rules: DataFrame | None = None,
    boilerplate: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) → labeled documents.

    Returns the input columns (minus html — the fat column is consumed
    by the kernel and pruned) plus text_extracted, scrubbed_text,
    qa struct, keep, drop_reason, bucket.

    Partitioning policy (north_rule skew clause): the kernel is a
    stateless map, so it runs at SCAN parallelism — no shuffle of the
    fat html/text columns (session.py keeps maxPartitionBytes small so
    splits, not files, set the width). The salted repartition on
    (bucket, salt(url)) runs AFTER the kernel: ceil(repartition_to/4)
    salts write each bucket from ≤ that many tasks yet split any host
    under 1/4 of rows into salts ≤ an average task (constants.py).
    Only labeled rows (no html) shuffle, in ONE hash Exchange (range
    partitioning would sample, i.e. re-run, the kernel) to an explicit
    count, so AQE's coalescer can't re-serialize the write stage.
    repartition_to=0 disables (tiny inputs / streaming).
    """
    if repartition_to is None:
        repartition_to = int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

    # optional per-domain policy overlay: broadcast equi-join on
    # url-host against a small rules dim (host, action∈allow|deny) —
    # the spatial-join/offset-default pattern of the reference
    # (J5/J2, eugl/acquisition_info.py:176-191, eugl/fmask.py:386-389).
    # Caller contract: hosts must be unique (join multiplicity
    # otherwise duplicates rows) and unknown action values fail OPEN
    # (anything but 'deny' allows).
    if host_rules is not None:
        rules = host_rules.select(
            F.col("host").alias("_rule_host"),
            F.col("action").alias("_host_action"),
        )
        pages = pages.join(
            F.broadcast(rules),
            host(F.col("url")) == F.col("_rule_host"),
            "left",
        ).drop("_rule_host")
    else:
        pages = pages.withColumn("_host_action", F.lit(None).cast("string"))

    # optional path-scoped robots overlay (RFC 9309 §2.2.2): the
    # (host, prefix, allow) rules collapse to ONE row per host with a
    # rules ARRAY (functions/robots.py:path_rules_dim) before the
    # broadcast join, so page rows are never multiplied by rule count;
    # the longest-prefix verdict evaluates as a native array
    # expression per row — no shuffle, no Python, O(rules) state.
    # Scale note (100-TB reflection): a Common-Crawl-wide dim is
    # ~40M robots hosts ≈ low-GB — still broadcastable; a FULL-web
    # dim (10^8+ hosts) outgrows the broadcast budget, and the fix is
    # to drop this one hint: AQE then picks a shuffle join keyed on
    # host, which co-locates with the pipeline's own host bucketing.
    # Same trade applies to host_rules above.
    if path_rules is not None:
        from eugl_spark.functions.robots import path_denied, path_rules_dim

        dim = path_rules_dim(path_rules).select(
            F.col("host").alias("_prule_host"),
            F.col("path_rules").alias("_path_rules"),
        )
        pages = pages.join(
            F.broadcast(dim),
            host(F.col("url")) == F.col("_prule_host"),
            "left",
        ).drop("_prule_host")
        path_deny = path_denied(F.col("url"), F.col("_path_rules"))
    else:
        path_deny = F.lit(False)

    # host policy actions: 'deny' drops the host outright;
    # 'sample:NN' keeps a deterministic NN% of the host's urls
    # (crawl rebalancing — a hot host can be down-weighted without a
    # separate job; hash-of-url, so the same url always gets the same
    # fate across runs/resumes). Unknown actions fail OPEN.
    raw_rate = F.when(
        F.col("_host_action").startswith("sample:"),
        # try_cast: under ANSI a malformed rate ('sample:', 'sample:x')
        # would otherwise CAST_INVALID_INPUT-fail the whole job —
        # null rate takes the documented fail-open path instead
        F.split(F.col("_host_action"), ":").getItem(1).try_cast("int"),
    )
    # between(0,100): an out-of-range rate ('sample:-5') is malformed
    # and must fail OPEN like the non-castable ones — without the
    # bound, pmod(...) >= -5 is true for every url and the whole host
    # silently drops (fail-CLOSED, the opposite of the contract)
    sample_rate = F.when(raw_rate.between(0, 100), raw_rate)
    sampled_out = sample_rate.isNotNull() & (
        F.pmod(F.xxhash64(F.col("url")), F.lit(100)) >= sample_rate
    )
    # ingest-damage gate: when the parse layer surfaced an ingest_flag
    # column (parse_crawl_records: 'truncated' = WARC-Truncated
    # record, 'chunked' = still-chunk-framed HTTP entity the exact
    # splitter couldn't repair), flagged rows are condemned instead of
    # extracted — a chunk-framed or cut-off payload is garbage to
    # every text metric. Inputs without the column (parquet fixtures,
    # pre-extracted corpora) take the null literal: zero behavior
    # change. Callers who WANT truncated partial text can null the
    # flag before apply_pipeline (documented policy knob).
    iflag = (
        F.col("ingest_flag")
        if "ingest_flag" in pages.columns
        else F.lit(None).cast("string")
    )
    # rows already condemned by host policy or ingest damage skip the
    # QA kernel — the job's most expensive stage — entirely: a
    # Zipf-head host being down-weighted can be a double-digit share
    # of the crawl, and its verdict is decided by the first when()
    # branches below. The kernel sees (null, null) and returns its
    # no-content struct, so condemned rows carry null qa metrics
    # (documented trade-off).
    condemned = F.coalesce(
        (F.col("_host_action") == "deny")
        | sampled_out
        | path_deny
        | iflag.isNotNull(),
        F.lit(False),
    )
    # html crosses the boundary only for rows that need extraction
    if boilerplate:
        # boilerplate=True (opt-in; default keeps every verdict hash
        # byte-identical): html-only rows feed the jusText-style
        # MAIN-CONTENT blocks to the kernel as text instead of the
        # kernel's whole-page extraction — nav/menu/footer/link-farm
        # blocks never reach the metrics, and a page with NO content
        # blocks (link farm) verdicts no_content. The block chain is
        # pure Catalyst (functions/boilerplate.py): still one scan,
        # still a single Arrow boundary, zero extra shuffles.
        #
        # The chain runs ONLY on rows whose content column is actually
        # consumed below (text null, not condemned): `when()` evaluates
        # its value branch lazily per row, so rows that already carry
        # extracted text skip the whole per-block regex cascade — on a
        # mixed crawl most rows — instead of paying it for a value
        # coalesce() then discards.
        from eugl_spark.functions.boilerplate import with_content_column

        pages = with_content_column(
            pages,
            F.when(
                F.col("text").isNull() & ~condemned,
                F.col("html").cast("string"),
            ),
            "_bp_content",
        )
        content = F.col("_bp_content")
        text_in = F.when(
            ~condemned,
            F.coalesce(
                F.col("text"), F.when(content != "", content)
            ),
        )
        html_in = F.lit(None).cast("binary")
    else:
        text_in = F.when(~condemned, F.col("text"))
        html_in = F.when(F.col("text").isNull() & ~condemned, F.col("html"))
    df = pages.withColumn("_k", qa_kernel_udf(text_in, html_in))

    k = F.col("_k")
    te = k.getField("text_extracted")
    drop_reason = (
        F.when(F.col("_host_action") == "deny", "host_deny")
        .when(sampled_out, "host_sampled")
        .when(path_deny, "robots_path")
        .when(iflag.isNotNull(), F.concat(F.lit("ingest_"), iflag))
        .when(te.isNull() | (te == ""), "no_content")
        .when(k.getField("n_chars") < C.MIN_CHARS, "too_short")
        .when(k.getField("n_chars") > C.MAX_CHARS, "too_long")
        .when(k.getField("symbol_ratio") > C.MAX_SYMBOL_RATIO, "symbol_ratio")
        .when(
            k.getField("dup_line_fraction") > C.MAX_DUP_LINE_FRACTION,
            "repetition",
        )
        .when(k.getField("n_words") < C.MIN_WORDS, "too_few_words")
        .when(
            (k.getField("mean_word_len") < C.MIN_MEAN_WORD_LEN)
            | (k.getField("mean_word_len") > C.MAX_MEAN_WORD_LEN),
            "word_length",
        )
        .when(
            ~k.getField("lang").isin(*sorted(C.TARGET_LANGS)), "langid"
        )
        .when(
            k.getField("stopword_fraction") < C.MIN_STOPWORD_FRACTION,
            "stopword_fraction",
        )
        .when(k.getField("avg_nll") > C.MAX_AVG_NLL, "perplexity")
    )
    df = df.withColumn("drop_reason", drop_reason)
    df = df.withColumn("keep", F.col("drop_reason").isNull())

    qa = F.struct(
        F.struct(
            k.getField("n_chars").alias("n_chars"),
            k.getField("symbol_ratio").alias("symbol_ratio"),
            k.getField("n_words").alias("n_words"),
            k.getField("mean_word_len").alias("mean_word_len"),
            k.getField("dup_line_fraction").alias("dup_line_fraction"),
            k.getField("stopword_fraction").alias("stopword_fraction"),
        ).alias("heuristics"),
        F.struct(
            k.getField("lang").alias("lang"),
            k.getField("confidence").alias("confidence"),
        ).alias("langid"),
        F.struct(k.getField("avg_nll").alias("avg_nll")).alias("perplexity"),
        F.struct(
            # empty text scrubs to itself: the kernel leaves
            # scrubbed_text null for '' (nothing to scrub), and a bare
            # ~eqNullSafe would count that as a change — inflating
            # per-host scrub rates for boilerplate-stripped pages
            F.when(te.isNull() | (te == ""), F.lit(False))
            .otherwise(~te.eqNullSafe(k.getField("scrubbed_text")))
            .alias("changed")
        ).alias("scrub"),
    )

    out = df.select(
        "url",
        "warc_ts",
        "lang",
        te.alias("text_extracted"),
        k.getField("scrubbed_text").alias("scrubbed_text"),
        qa.alias("qa"),
        "keep",
        "drop_reason",
        salted_bucket(F.col("url")).alias("bucket"),
    )
    if repartition_to:
        out = out.repartition(
            repartition_to, F.col("bucket"), salt(F.col("url"), repartition_to)
        )
    return out
