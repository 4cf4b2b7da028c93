"""Extraction-pipeline queries over the driver tables.

The driver tables carry no html column, so the extraction queries adapt
``documents.text`` into the pages contract (url from doc_id, markdown body)
and run the real fused parse+chunk stage (operators/pipeline.py). These are
the non-SQL-expressible entries — the chunker is a stateful pandas stage —
so they ship without oracle SQL (driver records a rows-only check); their
correctness gate is the golden-fixture pytest suite instead.

``binary_meta`` shows the multimodal plumbing shape (opaque binary payload →
typed metadata via JVM-side functions) and does have an oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t


def _salt(spark) -> int:
    """Parse-stage parallelism: one partition per core (a fixed 8 capped
    the expensive UDF stage at 8 of 32 threads; results are partition-
    independent, pinned by test_deterministic_across_runs)."""
    return max(8, spark.sparkContext.defaultParallelism)


_PAGE_CLASS_EXT = {0: "md", 1: "md", 2: "md", 3: "html", 4: "html",
                   5: "docx", 6: "pdf", 7: "pdf", 8: "pdf", 9: "html"}


def _synth_payload(doc_id: int, text: str) -> tuple[bytes | None, str | None]:
    """Deterministic (html_bytes, wet_text) for one driver document.

    doc_id % 10 spreads the 500 sf0.01 docs over every extractor and
    status tier the reference's parser matrix covers (reference
    tests/core/test_parser.py:49-183): markdown (cls 1 with a
    spaced-info-string code fence + trailing-# heading), boilerplated
    HTML (cls 4 with HTML5 omitted end tags — unclosed <p>/<td>/<tr>),
    docx (odd doc_ids wrap paragraphs in w:sdt content controls),
    digital PDF (cls 6 odd = Flate Tj, even = TJ kerning arrays), scan
    PDF + crawl text (degraded), broken PDF (error), and a
    declared-cp1251 HTML charset variant."""
    import hashlib
    from html import escape

    from docling_rag_spark.sources import fixtures as FX

    cls = doc_id % 10
    words = text.split()
    paras = [" ".join(words[i:i + 30]) for i in range(0, len(words), 30)]
    if cls <= 2:
        if cls == 1 and len(words) >= 8:
            # real-markdown shapes: info-string fence + unspaced trailing '#'
            code = " ".join(words[:8])
            rest = " ".join(words[8:])
            return (f"# Document {doc_id} C#\n\n"
                    f"``` python example {doc_id}\n{code}\n```\n\n"
                    f"{rest}").encode(), None
        return f"# Document {doc_id}\n\n{text}".encode(), None
    if cls in (3, 4, 9):
        if cls == 4:
            # tag-soup page: omitted </p> + unclosed table cells/rows
            body = "".join(f"<p>{escape(p)}" for p in paras)
            cells = [escape(w) for w in (words[:4] + ["x"] * 4)[:4]]
            body += (f"<table><tr><td>{cells[0]}<td>{cells[1]}"
                     f"<tr><td>{cells[2]}<td>{cells[3]}</table>")
        else:
            body = "".join(f"<p>{escape(p)}</p>" for p in paras)
        nav = '<nav><a href="/">Home</a> <a href="/a">Archive</a></nav>'
        doc = ("<!DOCTYPE html><html><head>"
               + ('<meta charset="windows-1251">' if cls == 9 else "")
               + f"<title>t</title></head><body>{nav}<article>"
               + f"<h1>Document {doc_id}</h1>{body}</article>"
               + "<footer>Generated footer</footer></body></html>")
        return doc.encode("cp1251" if cls == 9 else "utf-8"), None
    if cls == 5:
        from docling_rag_spark.operators.extract_docx import build_docx
        items: list[tuple[str, object]] = [
            ("heading", (1, f"Document {doc_id}"))]
        # tens digit picks the variant (doc_id % 2 is constant when
        # doc_id % 10 == 5); both XML shapes must digest identically
        kind = "sdt_text" if (doc_id // 10) % 2 else "text"
        items += [(kind, p) for p in paras]
        return build_docx(items), None
    if cls == 6:
        # ≥100 chars per page so the text-layer detector reads 'digital'
        pages = [" ".join(words[i:i + 60]).ljust(100, ".")
                 for i in range(0, len(words), 60)] or ["empty page".ljust(100, ".")]
        if (doc_id // 10) % 2:
            return FX.build_text_pdf(pages, compress=True), None
        return FX.build_kerned_pdf(pages), None
    if cls == 7:
        return FX.build_scan_pdf(1 + doc_id % 2), text  # degraded via WET
    # cls == 8: structurally broken PDF -> error tier (deterministic junk)
    junk = hashlib.md5(str(doc_id).encode()).digest() * 4
    return b"%PDF-1.4 " + junk, None


def _as_pages(docs):
    """documents(doc_id, text, lang, …) → pages(url, warc_ts, html, text,
    lang): an Arrow-batched synthesizer spreading driver docs across every
    format / charset / status tier (see ``_synth_payload``)."""
    import pandas as pd

    from docling_rag_spark.operators.pipeline import PAGES_SCHEMA

    def synth(batches):
        for pdf in batches:
            htmls, wets, urls = [], [], []
            for did, src, text in zip(pdf["doc_id"], pdf["source"],
                                      pdf["text"]):
                h, w = _synth_payload(int(did), text or "")
                htmls.append(h)
                wets.append(w)
                urls.append(f"https://docs.example/{src}/{int(did)}."
                            f"{_PAGE_CLASS_EXT[int(did) % 10]}")
            yield pd.DataFrame({"url": urls, "warc_ts": pd.NaT,
                                "html": htmls, "text": wets,
                                "lang": pdf["lang"]})

    return docs.select("doc_id", "source", "text", "lang").mapInPandas(
        synth, schema=PAGES_SCHEMA)


def extract_chunks(spark, sf_dir):
    from docling_rag_spark.operators.pipeline import (
        chunks_table, extract_documents)
    pages = _as_pages(_t(spark, sf_dir, "documents"))
    docs = extract_documents(pages, salt_partitions=_salt(spark))
    return (chunks_table(docs)
            .select("url", F.col("chunk_id").cast("int").alias("chunk_id"),
                    "text", "element_type",
                    F.col("token_count").cast("int").alias("token_count")))


def extract_docs(spark, sf_dir):
    from docling_rag_spark.operators.pipeline import (
        extract_documents, extracted_table)
    pages = _as_pages(_t(spark, sf_dir, "documents"))
    docs = extract_documents(pages, salt_partitions=_salt(spark))
    return (extracted_table(docs)
            .select("url", "format", "status", "title",
                    F.col("n_blocks").cast("int").alias("n_blocks"),
                    F.col("n_chunks").cast("int").alias("n_chunks"),
                    F.length("extracted_text").cast("bigint")
                     .alias("n_chars_extracted")))


def extract_digest(spark, sf_dir):
    """Hard oracle for the flagship pipeline: per-url digests of the FULL
    extraction output — md5 of the extracted text plus a fold over every
    chunk's (chunk_id, md5(text), span.start, span.end). Any byte drift in
    parsing, chunking, or span arithmetic flips a hash.

    The oracle side is a frozen golden (VALUES table generated by
    ``scripts/freeze_extraction_golden.py`` at the driver's gate SF,
    sf0.01): extraction itself is not SQL-expressible, so the DuckDB twin
    verifies the live pipeline against reviewed, committed digests — the
    same contract as the reference's golden-fixture tests
    (tests/core/test_chunker.py:49-203), but driver-checkable."""
    from docling_rag_spark.operators.pipeline import extract_documents
    pages = _as_pages(_t(spark, sf_dir, "documents"))
    docs = extract_documents(pages, salt_partitions=_salt(spark))
    chunk_fold = F.md5(F.concat_ws("|", F.transform(
        F.col("chunks"),
        lambda c: F.concat_ws(
            ":", c["chunk_id"].cast("string"), F.md5(c["text"]),
            c["span"]["start"].cast("string"),
            c["span"]["end"].cast("string")))))
    return docs.select(
        "url", "format", "status", "encoding",
        F.md5(F.col("extracted_text")).alias("text_md5"),
        chunk_fold.alias("chunks_md5"),
        F.size("chunks").cast("int").alias("n_chunks"))




# --- multimodal plumbing: opaque binary → typed metadata ---------------------

def binary_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.substring(F.base64(payload), 1, 16).alias("preview_b64"))


BINARY_META_SQL = """
SELECT doc_id::BIGINT AS doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS payload_md5,
       substr(to_base64(encode(text)), 1, 16) AS preview_b64
FROM documents
"""


def embed_chunks_q(spark, sf_dir):
    """X7: deterministic hashed-random-projection embeddings over chunks
    (pandas UDF; not SQL-expressible → rows-only check)."""
    from docling_rag_spark.operators.embed import embed_chunks
    return (embed_chunks(extract_chunks(spark, sf_dir)
                         .withColumnRenamed("text", "context_text"))
            .select("url", "chunk_id",
                    F.size("embedding").cast("int").alias("dim")))


def search_topk_q(spark, sf_dir):
    """O1 end-to-end: extract → embed → exact cosine top-k for a fixed
    query (the reference §3.2 lifecycle; rows-only check)."""
    from docling_rag_spark.operators.embed import embed_chunks
    from docling_rag_spark.operators.search import search_chunks
    emb = embed_chunks(extract_chunks(spark, sf_dir)
                       .withColumnRenamed("text", "context_text"))
    # emptiness verdict from the static source table (P5 guard) — probing
    # the derived embed pipeline would execute a slice of it twice
    return search_chunks(spark, emb, "query engine scan filter join",
                         top_k=10,
                         store_is_empty=_t(spark, sf_dir,
                                           "documents").isEmpty())


def embed_digest(spark, sf_dir):
    """Hard oracle for X7: per-url fold of every chunk embedding (md5 over
    the float32 components' canonical string forms, order-independent
    across partitionings via array_sort). Golden-frozen like
    extract_digest — the embedder is deterministic by contract."""
    from docling_rag_spark.operators.embed import embed_chunks
    emb = embed_chunks(extract_chunks(spark, sf_dir)
                       .withColumnRenamed("text", "context_text"))
    vec_md5 = F.md5(F.concat_ws(",", F.transform(
        F.col("embedding"), lambda x: x.cast("string"))))
    per_chunk = emb.select(
        "url", F.concat_ws(":", F.col("chunk_id").cast("string"),
                           vec_md5).alias("cs"))
    return (per_chunk.groupBy("url")
            .agg(F.count("*").cast("int").alias("n_chunks"),
                 F.md5(F.concat_ws("|", F.array_sort(F.collect_list("cs"))))
                  .alias("emb_md5")))


def search_digest(spark, sf_dir):
    """Hard oracle for O1 end-to-end: the top-10 result with the cosine
    score floor-scaled to micro-units (engine-stable integers, no float
    formatting in the compare)."""
    top = search_topk_q(spark, sf_dir)
    return top.select(
        "url", F.col("chunk_id").cast("int").alias("chunk_id"),
        F.floor(F.col("score") * 1000000).cast("bigint").alias("score_micro"))


def chat_context_digest(spark, sf_dir):
    """Hard oracle for the chat agent's deterministic half (reference
    core/agent.py:56-76 ``format_search_results`` + the /chat endpoint,
    api/app.py:145-176): extract → embed → top-10 for the fixed query,
    composed into the cited context block ([i] file (p.N, score=X.XX)
    [h1 > h2] headers + chunk text). The md5 of the full block pins the
    citation format end-to-end; the empty-case sentinel and header shape
    are pinned separately in tests/test_api_server.py /
    tests/test_embed_search.py."""
    import hashlib

    from docling_rag_spark.operators.embed import embed_chunks
    from docling_rag_spark.operators.pipeline import (
        chunks_table, extract_documents)
    from docling_rag_spark.operators.search import (
        format_search_results, search_chunks)

    pages = _as_pages(_t(spark, sf_dir, "documents"))
    chunks = chunks_table(extract_documents(
        pages, salt_partitions=_salt(spark)))
    emb = embed_chunks(chunks)
    top = search_chunks(spark, emb, "query engine scan filter join",
                        top_k=10,
                        store_is_empty=_t(spark, sf_dir,
                                          "documents").isEmpty())
    meta = chunks.select("url", "chunk_id", "text", "headings",
                         "page_number")
    rows = (top.join(meta, ["url", "chunk_id"], "left")
            .orderBy(F.desc("score"), "url", "chunk_id").collect())
    ctx = format_search_results([
        ({"source_file": r["url"], "page_number": r["page_number"],
          "headings": list(r["headings"] or []), "text": r["text"]},
         float(r["score"]))
        for r in rows])
    return spark.createDataFrame(
        [("query engine scan filter join", len(rows),
          hashlib.md5(ctx.encode()).hexdigest(), ctx[:80])],
        "query string, n_sources int, context_md5 string, "
        "context_head string")


def media_digest(spark, sf_dir):
    """Hard oracle for the multimodal plumbing: typed metadata + md5-folded
    feature vector per synthesized payload."""
    from docling_rag_spark.operators.multimodal import describe_media
    d = describe_media(_fake_media(spark, sf_dir))
    feat_md5 = F.when(
        F.col("feature").isNull(), F.lit(None).cast("string")).otherwise(
        F.md5(F.concat_ws(",", F.transform(F.col("feature"),
                                           lambda x: x.cast("string")))))
    return d.select(
        "url", "media_type", "status",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.coalesce(F.col("width"), F.lit(-1)).cast("int").alias("width"),
        F.coalesce(F.col("n_frames"), F.lit(-1)).cast("int")
         .alias("n_frames"),
        F.coalesce(F.col("sample_rate"), F.lit(-1)).cast("int")
         .alias("sample_rate"),
        feat_md5.alias("feat_md5"))


def _values_sql(golden_name, coltypes):
    """Build a VALUES-table oracle from a frozen golden list (None until
    generated). ``coltypes`` = [(name, duckdb_type), ...] in row order."""
    try:
        import docling_rag_spark.queries.extraction_golden as g
    except ImportError:
        return None
    rows = getattr(g, golden_name, None)
    if rows is None:
        return None

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    body = ",\n".join("(" + ", ".join(lit(x) for x in r) + ")" for r in rows)
    names = ", ".join(c for c, _ in coltypes)
    sel = ", ".join(f"{c}::{t} AS {c}" for c, t in coltypes)
    return f"SELECT {sel} FROM (VALUES\n{body}\n) AS t({names})"


def _fake_media(spark, sf_dir):
    """Synthesized deterministic binary payloads keyed by doc_id."""
    import pandas as pd

    from docling_rag_spark.operators.multimodal import (
        build_fake_audio, build_fake_image, build_fake_video, build_jpeg,
        build_png, build_wav)

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                kind = did % 6
                if kind == 0:
                    payloads.append(build_fake_image(16, 16, seed=int(did)))
                elif kind == 1:
                    payloads.append(build_fake_video(12, seed=int(did)))
                elif kind == 2:
                    payloads.append(build_fake_audio(8000, 4000,
                                                     seed=int(did)))
                elif kind == 3:
                    # REAL PNG payloads, rotating color and filter types so
                    # the golden pins the whole decode matrix
                    payloads.append(build_png(
                        12, 9, seed=int(did),
                        color_type=(0, 2, 4, 6)[(int(did) // 6) % 4],
                        filter_type=(int(did) // 24) % 5))
                elif kind == 4:
                    # REAL JPEG, rotating gray/444/420, the restart-marker
                    # path, and baseline (SOF0) vs progressive (SOF2)
                    payloads.append(build_jpeg(
                        19, 14, seed=int(did),
                        color=(int(did) // 6) % 3 != 0,
                        subsample=("444", "420")[(int(did) // 6) % 2],
                        restart_interval=(0, 2)[(int(did) // 12) % 2],
                        progressive=bool((int(did) // 18) % 2)))
                else:
                    # REAL RIFF/WAVE PCM, rotating channels and bit depth
                    payloads.append(build_wav(
                        8000, 3000, seed=int(did),
                        n_channels=1 + (int(did) // 6) % 2,
                        bits=(16, 8)[(int(did) // 12) % 2]))
            yield pd.DataFrame({
                "url": ["media://" + str(d) for d in pdf["doc_id"]],
                "payload": payloads})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(make_payloads,
                            schema="url string, payload binary")


def media_describe_q(spark, sf_dir):
    """Multimodal plumbing over synthesized binary payloads keyed by doc_id
    (deterministic fake containers; rows-only check)."""
    from docling_rag_spark.operators.multimodal import describe_media
    return describe_media(_fake_media(spark, sf_dir)).select(
        "url", "media_type", "status",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.size("feature").cast("int").alias("feat_dim"))


# Driver-visible: only the hard digests (each strictly supersedes its
# rows-only twin — VERDICT r2 task 1 fitted the surface to the driver's
# 50-row CORRECTNESS window).
QUERIES = {
    "extract_digest": (extract_digest, _values_sql("GOLDEN_SF001", [
        ("url", "VARCHAR"), ("format", "VARCHAR"), ("status", "VARCHAR"),
        ("encoding", "VARCHAR"),
        ("text_md5", "VARCHAR"), ("chunks_md5", "VARCHAR"),
        ("n_chunks", "INT")])),
    "embed_digest": (embed_digest, _values_sql("EMBED_GOLDEN_SF001", [
        ("url", "VARCHAR"), ("n_chunks", "INT"), ("emb_md5", "VARCHAR")])),
    "search_digest": (search_digest, _values_sql("SEARCH_GOLDEN_SF001", [
        ("url", "VARCHAR"), ("chunk_id", "INT"),
        ("score_micro", "BIGINT")])),
    "media_digest": (media_digest, _values_sql("MEDIA_GOLDEN_SF001", [
        ("url", "VARCHAR"), ("media_type", "VARCHAR"),
        ("status", "VARCHAR"), ("n_bytes", "BIGINT"), ("width", "INT"),
        ("n_frames", "INT"), ("sample_rate", "INT"),
        ("feat_md5", "VARCHAR")])),
}

# Bench-/pytest-only: superseded by the digests above (binary_meta's
# oracle still runs in tests/test_oracle_parity.py).
DIAGNOSTICS = {
    "extract_chunks": (extract_chunks, None),
    "extract_docs": (extract_docs, None),
    "binary_meta": (binary_meta, BINARY_META_SQL),
    "embed_chunks": (embed_chunks_q, None),
    "search_topk": (search_topk_q, None),
    "media_describe": (media_describe_q, None),
    # RAG answer-composition surface (VERDICT r3 task 3): golden-frozen
    # digest of the cited context block; lives here so the driver window
    # stays at 50 (task 8) — parity-tested locally like driver rows
    "chat_context_digest": (chat_context_digest, _values_sql(
        "CHAT_GOLDEN_SF001", [
            ("query", "VARCHAR"), ("n_sources", "INT"),
            ("context_md5", "VARCHAR"), ("context_head", "VARCHAR")])),
}
