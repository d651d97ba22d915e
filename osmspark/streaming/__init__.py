from .sink import make_windowed_sink_batch_writer, sink_windowed_tiles
from .source import stream_nodes, stream_pages, stream_windowed_tile_counts
