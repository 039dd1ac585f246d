"""In-memory ZooKeeper fake implementing the ZKClient protocol."""

from __future__ import annotations


class FakeZK:
    """Dict-backed tree store with ZooKeeper-ish invariants
    (delete refuses non-empty nodes, create refuses orphans)."""

    def __init__(self, initial: dict[str, str | None] | None = None) -> None:
        self.nodes: dict[str, str | None] = {}
        for p, v in (initial or {}).items():
            # initial data may skip parents; create them
            parts = [x for x in p.split("/") if x]
            cur = ""
            for part in parts:
                cur += "/" + part
                self.nodes.setdefault(cur, None)
            self.nodes[p.rstrip("/") or "/"] = v

    def get_children(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        out = []
        for p in self.nodes:
            if p.startswith(prefix) and "/" not in p[len(prefix):]:
                out.append(p[len(prefix):])
        return out

    def get_value(self, path: str) -> str | None:
        return self.nodes.get(path)

    def set_value(self, path: str, value: str | None) -> None:
        if path not in self.nodes:
            raise KeyError(f"no node {path}")
        self.nodes[path] = value

    def create_node(self, path: str, value: str | None) -> None:
        parent = path.rsplit("/", 1)[0] or "/"
        if parent != "/" and parent not in self.nodes:
            raise KeyError(f"no parent for {path}")
        if path in self.nodes:
            raise KeyError(f"node exists: {path}")
        self.nodes[path] = value

    def delete_node(self, path: str) -> None:
        if self.get_children(path):
            raise ValueError(f"node not empty: {path}")
        del self.nodes[path]

    def exists(self, path: str) -> bool:
        return path == "/" or path in self.nodes  # ZK root always exists

    def close(self) -> None:
        pass  # in memory: nothing to release
