"""Stdio MCP server exposing the engine to agents.

The reference's `--mcp` flag starts a stdio MCP server with six tools
(`src/mcp/server.ts:41-390`): `gistdex_search` (agent loop with goal
tracking, pagination cursors and strategic hints), `gistdex_query_simple`
(low-level search), `gistdex_index`, `gistdex_list`, `gistdex_read_cached`
(query history + structured knowledge) and
`gistdex_write_structured_result`. This module implements the same tool
surface over :class:`gistdex_spark.api.GistdexSpark`, speaking newline-
delimited JSON-RPC 2.0 on stdin/stdout — the MCP stdio transport — with no
SDK dependency, so it runs anywhere PySpark does.

Every tool handler plans ONE DataFrame job per logical step (search,
census, cache read); the server layer only formats. The query cache and
structured-knowledge stores are the parquet logs from
`sources/cache_store.py`, kept under `<db>.cache/{queries,knowledge}`
mirroring the reference's `.gistdex/cache` directory
(`src/mcp/utils/query-cache.ts:6-19`).
"""

from __future__ import annotations

import json
import sys
import time
from typing import Any

from gistdex_spark import __version__ as VERSION

PROTOCOL_VERSION = "2024-11-05"
MODE_TRUNCATION = {"summary": 200, "detailed": 500, "full": None}


def _text_result(payload: Any, is_error: bool = False) -> dict:
    body = {"content": [{"type": "text", "text": json.dumps(payload, default=str)}]}
    if is_error:
        body["isError"] = True
    return body


TOOLS = [
    {
        "name": "gistdex_search",
        "description": "Intelligent search with pagination, exclusion and "
        "analysis metadata. Modes: summary, detailed, full.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "goal": {"type": "string"},
                "query": {"type": "string"},
                "cursor": {"type": "string"},
                "context": {
                    "type": "object",
                    "properties": {
                        "previousQueries": {"type": "array", "items": {"type": "string"}},
                        "excludeResults": {"type": "array", "items": {"type": "string"}},
                        "focusAreas": {"type": "array", "items": {"type": "string"}},
                    },
                },
                "options": {
                    "type": "object",
                    "properties": {
                        "mode": {
                            "type": "string",
                            "enum": ["summary", "detailed", "full"],
                            "default": "summary",
                        },
                        "k": {"type": "number", "default": 5, "maximum": 5},
                        "pageSize": {"type": "number", "default": 5, "maximum": 10},
                        "saveStructured": {"type": "boolean", "default": False},
                    },
                },
            },
            "required": ["goal", "query"],
        },
    },
    {
        "name": "gistdex_read_cached",
        "description": "Read cached queries and structured knowledge.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "type": {"type": "string", "enum": ["queries", "knowledge", "all"]},
                "topic": {"type": "string"},
            },
        },
    },
    {
        "name": "gistdex_query_simple",
        "description": "Low-level search with direct parameter control.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "k": {"type": "number", "default": 5},
                "type": {
                    "type": "string",
                    "enum": ["gist", "github", "file", "text"],
                },
                "hybrid": {"type": "boolean", "default": False},
                "rerank": {"type": "boolean", "default": True},
                "full": {"type": "boolean", "default": False},
                "section": {"type": "boolean", "default": False},
                "includeMetadata": {"type": "boolean", "default": True},
            },
            "required": ["query"],
        },
    },
    {
        "name": "gistdex_index",
        "description": "Index content (text/file/files) with chunking options.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "type": {
                    "type": "string",
                    "enum": ["text", "file", "files", "gist", "github"],
                },
                "text": {
                    "type": "object",
                    "properties": {
                        "content": {"type": "string"},
                        "title": {"type": "string"},
                    },
                },
                "file": {
                    "type": "object",
                    "properties": {"path": {"type": "string"}},
                },
                "files": {
                    "type": "object",
                    "properties": {
                        "pattern": {"type": "string"},
                        "baseDir": {"type": "string"},
                    },
                },
                "chunkSize": {"type": "number", "default": 1000},
                "chunkOverlap": {"type": "number", "default": 200},
                "preserveBoundaries": {"type": "boolean", "default": True},
            },
            "required": ["type"],
        },
    },
    {
        "name": "gistdex_list",
        "description": "List indexed items: stats, byExtension, bySource.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "limit": {"type": "number", "default": 100},
                "type": {
                    "type": "string",
                    "enum": ["gist", "github", "file", "text"],
                },
                "stats": {"type": "boolean", "default": False},
                "byExtension": {"type": "boolean", "default": False},
                "bySource": {"type": "boolean", "default": False},
                "detailed": {"type": "boolean", "default": False},
            },
        },
    },
    {
        "name": "gistdex_write_structured_result",
        "description": "Save analysis as structured knowledge (markdown).",
        "inputSchema": {
            "type": "object",
            "properties": {
                "topic": {"type": "string"},
                "content": {"type": "string"},
                "metadata": {"type": "object"},
            },
            "required": ["topic", "content"],
        },
    },
]


class MCPServer:
    """One engine binding + the JSON-RPC method table."""

    def __init__(self, spark, db: str = ".gistdex/chunks", cache_dir: str | None = None):
        from gistdex_spark.api import GistdexSpark

        self.spark = spark
        self.eng = GistdexSpark(spark, db)
        self.cache_dir = cache_dir or f"{db.rstrip('/')}.cache"
        self._seq = 0

    # -- transport ---------------------------------------------------------

    def handle(self, msg: dict) -> dict | None:
        """One JSON-RPC message in, one response out (None: notification)."""
        method = msg.get("method", "")
        msg_id = msg.get("id")
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "serverInfo": {"name": "gistdex-mcp-spark", "version": VERSION},
                    "capabilities": {"tools": {}},
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {"tools": TOOLS}
            elif method == "tools/call":
                params = msg.get("params", {})
                result = self.call_tool(
                    params.get("name", ""), params.get("arguments", {}) or {}
                )
            elif method.startswith("notifications/"):
                return None
            else:
                if msg_id is None:
                    return None
                return {
                    "jsonrpc": "2.0",
                    "id": msg_id,
                    "error": {"code": -32601, "message": f"Method not found: {method}"},
                }
        except Exception as e:  # noqa: BLE001 — tool errors flow back in-band
            if msg_id is None:
                return None
            return {
                "jsonrpc": "2.0",
                "id": msg_id,
                "result": _text_result({"error": f"{type(e).__name__}: {e}"}, True),
            }
        if msg_id is None:
            return None
        return {"jsonrpc": "2.0", "id": msg_id, "result": result}

    # -- tools -------------------------------------------------------------

    def call_tool(self, name: str, args: dict) -> dict:
        handler = {
            "gistdex_search": self.t_search,
            "gistdex_query_simple": self.t_query_simple,
            "gistdex_index": self.t_index,
            "gistdex_list": self.t_list,
            "gistdex_read_cached": self.t_read_cached,
            "gistdex_write_structured_result": self.t_write_structured,
        }.get(name)
        if handler is None:
            return _text_result({"error": f"Unknown tool: {name}"}, True)
        return _text_result(handler(args))

    def _rows(self, df, truncate: int | None, content_col: str = "content"):
        out = []
        for r in df.collect():
            d = r.asDict()
            d.pop("embedding", None)
            c = d.get(content_col)
            if truncate is not None and isinstance(c, str) and len(c) > truncate:
                d[content_col] = c[:truncate] + "..."
            out.append(d)
        return out

    def t_search(self, args: dict) -> dict:
        """The agent loop (`agent-query-tool.ts`): cursor-paginated search
        with exclusions, score stats and strategic hints, query-cache
        logging — compressed to one ranked frame + one paginated slice."""
        from pyspark.sql import functions as F

        from gistdex_spark.functions.embedder import embed_text
        from gistdex_spark.operators import search as S
        from gistdex_spark.operators.search import decode_cursor, encode_cursor
        from gistdex_spark.sources.cache_store import append_query_cache

        goal, query = args.get("goal", ""), args["query"]
        opts = args.get("options") or {}
        ctx = args.get("context") or {}
        mode = opts.get("mode", "summary")
        page_size = min(int(opts.get("pageSize", opts.get("k", 5))), 10)
        offset = 0
        if args.get("cursor"):
            state = decode_cursor(args["cursor"])
            if state:
                offset = state["offset"]
                query = state.get("query") or query
                goal = state.get("goal") or goal

        qv = embed_text(query, self.eng.dim)
        scored = S.with_score(self.eng.chunks(), qv)
        excludes = ctx.get("excludeResults") or []
        if excludes:
            scored = S.exclude_ids(scored, excludes, id_col="id")
        # Over-fetch one page to learn has_more in the same job.
        ranked = scored.orderBy(F.desc("score"), F.asc("id")).limit(
            offset + page_size + 1
        )
        rows = self._rows(ranked, MODE_TRUNCATION[mode])
        page = rows[offset : offset + page_size]
        has_more = len(rows) > offset + page_size

        scores = [r["score"] for r in page]
        stats = {
            "count": len(page),
            "avgScore": round(sum(scores) / len(scores), 6) if scores else None,
            "minScore": min(scores) if scores else None,
            "maxScore": max(scores) if scores else None,
        }
        hints = []
        if stats["avgScore"] is not None and stats["avgScore"] < 0.3:
            hints.append("Low average relevance — rephrase or narrow the query.")
        if has_more:
            hints.append("More results available — pass the cursor to continue.")
        for area in ctx.get("focusAreas") or []:
            hints.append(f"Focus area not yet searched directly: {area}")

        self._seq += 1
        append_query_cache(
            self.spark,
            f"{self.cache_dir}/queries",
            query,
            "semantic",
            page,
            time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            self._seq,
        )
        return {
            "goal": goal,
            "query": query,
            "results": page,
            "stats": stats,
            "hints": hints,
            "cursor": (
                encode_cursor(offset + page_size, query, goal) if has_more else None
            ),
            "nextAction": (
                "gistdex_write_structured_result" if not has_more else "gistdex_search"
            ),
        }

    def t_query_simple(self, args: dict) -> dict:
        df = self.eng.search(
            args["query"],
            k=int(args.get("k", 5)),
            source_type=args.get("type"),
            rerank=bool(args.get("rerank", True)),
            hybrid=bool(args.get("hybrid", False)),
        )
        truncate = None if args.get("full") or args.get("section") else 200
        results = self._rows(df, truncate)
        if args.get("full"):
            for r in results:
                rows = self.eng.original_content(r["source_id"]).collect()
                if rows:
                    r["content"] = rows[0]["content"]
        payload: dict[str, Any] = {"query": args["query"], "results": results}
        if args.get("includeMetadata", True):
            scores = [r["score"] for r in results]
            payload["metadata"] = {
                "count": len(results),
                "avgScore": round(sum(scores) / len(scores), 6) if scores else None,
            }
        return payload

    def t_index(self, args: dict) -> dict:
        kind = args["type"]
        size = int(args.get("chunkSize", 1000))
        overlap = int(args.get("chunkOverlap", 200))
        strategy = None if args.get("preserveBoundaries", True) else "fixed"
        if kind == "text":
            spec = args.get("text") or {}
            texts = self.spark.createDataFrame(
                [
                    (
                        spec.get("title") or "text-input",
                        spec.get("content", ""),
                        "text",
                        spec.get("title") or "Text input",
                    )
                ],
                schema="source_id STRING, content STRING, "
                "source_type STRING, title STRING",
            )
            written = self.eng.index_text(
                texts, strategy=strategy or "fixed", size=size, overlap=overlap
            )
        elif kind in ("file", "files"):
            spec = args.get(kind) or {}
            pattern = spec.get("path") or spec.get("pattern")
            if not pattern:
                raise ValueError(f"Missing path/pattern for type={kind}")
            kw = {}
            if spec.get("baseDir"):
                kw = {
                    "base_dir": spec["baseDir"],
                    "allowed_base_paths": (spec["baseDir"],),
                }
            written = self.eng.index_files(
                pattern, strategy=strategy, size=size, overlap=overlap, **kw
            )
        else:
            raise NotImplementedError(
                f"type={kind} requires network fetch — inject via the library API"
            )
        n = written.count()
        return {"indexed": True, "chunksCreated": n, "db": self.eng.store_path}

    def t_list(self, args: dict) -> dict:
        from pyspark.sql import functions as F

        chunks = self.eng.chunks()
        if args.get("type"):
            chunks = chunks.filter(F.col("source_type") == args["type"])
        by_type = (
            chunks.groupBy("source_type").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        payload: dict[str, Any] = {
            "totalChunks": sum(r["n"] for r in by_type),
            "uniqueSources": chunks.select("source_id").distinct().count(),
            "bySourceType": {r["source_type"] or "unknown": r["n"] for r in by_type},
        }
        if args.get("stats"):
            return payload
        if args.get("byExtension"):
            ext = (
                chunks.withColumn(
                    "ext",
                    F.when(
                        F.col("source_id").rlike(r"\.[A-Za-z0-9]+$"),
                        F.regexp_extract("source_id", r"(\.[A-Za-z0-9]+)$", 1),
                    ).otherwise("(none)"),
                )
                .groupBy("ext")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("ext"))
                .collect()
            )
            payload["byExtension"] = {r["ext"]: r["n"] for r in ext}
        srcs = (
            chunks.groupBy("source_id", "source_type")
            .agg(F.count(F.lit(1)).alias("n_chunks"))
            .orderBy(F.desc("n_chunks"), F.asc("source_id"))
        )
        if not args.get("detailed"):
            srcs = srcs.limit(int(args.get("limit", 100)))
        payload["sources"] = [r.asDict() for r in srcs.collect()]
        return payload

    def t_read_cached(self, args: dict) -> dict:
        from pyspark.errors.exceptions.captured import AnalysisException

        from gistdex_spark.sources.cache_store import (
            knowledge_current,
            query_cache_current,
        )

        kind = args.get("type", "all")
        payload: dict[str, Any] = {}
        if kind in ("queries", "all"):
            try:
                log = self.spark.read.parquet(f"{self.cache_dir}/queries")
                payload["queries"] = [
                    r.asDict() for r in query_cache_current(log).collect()
                ]
            except AnalysisException:
                payload["queries"] = []
        if kind in ("knowledge", "all"):
            try:
                log = self.spark.read.parquet(f"{self.cache_dir}/knowledge")
                cur = knowledge_current(log)
                if args.get("topic"):
                    from pyspark.sql import functions as F

                    cur = cur.filter(F.col("topic") == args["topic"])
                payload["knowledge"] = [r.asDict() for r in cur.collect()]
            except AnalysisException:
                payload["knowledge"] = []
        return payload

    def t_write_structured(self, args: dict) -> dict:
        from gistdex_spark.sources.cache_store import append_knowledge

        self._seq += 1
        append_knowledge(
            self.spark,
            f"{self.cache_dir}/knowledge",
            args["topic"],
            args["content"],
            json.dumps(args.get("metadata") or {}),
            time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            self._seq,
        )
        return {"saved": True, "topic": args["topic"]}


def serve(spark, stdin=None, stdout=None, db: str = ".gistdex/chunks") -> int:
    """Newline-delimited JSON-RPC loop — the MCP stdio transport."""
    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    server = MCPServer(spark, db=db)
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            continue
        resp = server.handle(msg)
        if resp is not None:
            stdout.write(json.dumps(resp) + "\n")
            stdout.flush()
    return 0
