"""Operator library: the reference's generators, Pregel analytics and
min-cut, the id/canonicalization helpers the KG path uses, and the
operators left from the earlier generic analytics registry."""
