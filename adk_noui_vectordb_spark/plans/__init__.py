from .explain import explain_str, assert_pushed_filters

__all__ = ["explain_str", "assert_pushed_filters"]
