from .quadstore import QuadStore, local_quads

__all__ = ["QuadStore", "local_quads"]
