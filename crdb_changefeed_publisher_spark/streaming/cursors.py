"""Cursor stores, mirroring the reference's CursorStore trait
(src/cursors.rs:8-11: ``get() -> Option<String>``, ``set(String)``).

In the Spark engine the *authoritative* checkpoint is Structured Streaming's
offset/commit log (``checkpointLocation``) — see SURVEY.md §1.1. These stores
exist for (a) parity tests of the reference's semantics, (b) optional
mirroring of resolved timestamps to an external table for operators that
want a queryable cursor (like the reference's `cursor_store` CRDB table,
src/cursors.rs:19).

Single-writer semantics: like the reference's hardcoded ``key='key'`` row
(src/cursors.rs:28,47), one store instance == one logical publisher per
table; concurrent queries must not share a store (documented, not enforced,
exactly like the reference).
"""

from __future__ import annotations

import json
import os
from typing import Protocol


class CursorStore(Protocol):
    def get(self) -> str | None: ...

    def set(self, cursor: str) -> None: ...


class MemoryCursorStore:
    def __init__(self) -> None:
        self._cursor: str | None = None

    def get(self) -> str | None:
        return self._cursor

    def set(self, cursor: str) -> None:
        self._cursor = cursor


class FileCursorStore:
    """Durable single-key store: JSON file {'key': 'key', 'cursor': <ts>},
    written atomically (tmp + rename) — the UPSERT analog (cursors.rs:45-57).
    """

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def get(self) -> str | None:
        try:
            with open(self.path, encoding="utf-8") as f:
                return json.load(f)["cursor"]
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None

    def set(self, cursor: str) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"key": "key", "cursor": cursor}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


class JdbcCursorStore:
    """CockroachDB-backed store (CREATE TABLE IF NOT EXISTS cursor_store
    (key STRING PRIMARY KEY, cursor STRING); UPSERT ...) — requires a live
    database + psycopg, neither bundled here; the SQL parity is kept in
    DDL/DML constants for the integration environment."""

    DDL = "CREATE TABLE IF NOT EXISTS cursor_store (key STRING PRIMARY KEY, cursor STRING)"
    GET = "SELECT cursor FROM cursor_store WHERE key = 'key'"
    SET = "UPSERT INTO cursor_store (key, cursor) VALUES ('key', %s)"

    def __init__(self, database_url: str) -> None:
        try:
            import psycopg  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("psycopg is not installed; JdbcCursorStore unavailable") from e
        self._conn = psycopg.connect(database_url, autocommit=True)
        self._conn.execute(self.DDL)

    def get(self) -> str | None:
        row = self._conn.execute(self.GET).fetchone()
        return row[0] if row else None

    def set(self, cursor: str) -> None:
        self._conn.execute(self.SET, (cursor,))


def make_cursor_store(kind: str, *, path: str | None = None,
                      database_url: str | None = None) -> CursorStore:
    """CursorStoreType registry (src/model.rs:18-30: only 'cockroachdb')."""
    if kind == "cockroachdb":
        return JdbcCursorStore(database_url or os.environ["DATABASE_URL"])
    if kind == "file":
        assert path is not None
        return FileCursorStore(path)
    raise ValueError(f"unknown cursor store type: {kind}")
