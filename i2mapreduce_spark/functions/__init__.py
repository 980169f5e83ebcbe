from .vector import l2_norm_expr  # noqa: F401
