"""Self time of trace spans: a span's duration minus its children's."""


def self_times(spans):
    """Adds 'dur_s' and 'self_s' to each span dict (keys id, parent,
    start_s, end_s; parent -1 = root) and returns the list."""
    child = {}
    for sp in spans:
        sp["dur_s"] = sp["end_s"] - sp["start_s"]
        if sp["parent"] >= 0:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["dur_s"]
    for sp in spans:
        sp["self_s"] = sp["dur_s"] - child.get(sp["id"], 0.0)
    return spans
