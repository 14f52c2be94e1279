"""Union-find connected components: the independent reference the
graph-kernel tests compare against."""


def union_find_components(edges) -> dict:
    """``{node: min node id in its component}`` for an undirected edge
    list. Self-loops and edges with a ``None`` endpoint are skipped, so a
    node seen only in those is absent, as in the kernel's output."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
