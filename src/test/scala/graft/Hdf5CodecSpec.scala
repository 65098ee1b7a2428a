package graft

import graft.sources.Hdf5Codec

/** HDF5 reader: golden-pinned against an independent from-scratch
  * Python struct writer (tools/h5_golden.py, public format spec) in
  * the fixed CropHarvest layout — superblock v0, v1 B-tree + SNOD +
  * local heap root group, v1 object headers, contiguous storage —
  * plus chunked layouts (deflate, byte-shuffle+deflate, and chunk
  * B-trees with internal nodes) and the refusal contract for
  * everything outside that envelope and the distributed ingest
  * path. */
class Hdf5CodecSpec extends SparkSpec {

  private val goldenInstance: Array[Byte] = Array[Int](
    0x89, 0x48, 0x44, 0x46, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08,
    0x08, 0x00, 0x04, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xc8, 0x04,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x60, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
    0x01, 0x00, 0x01, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x11, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x78, 0x01, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x88, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x48, 0x45, 0x41, 0x50,
    0x00, 0x00, 0x00, 0x00, 0x28, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xa8, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x68, 0x6f, 0x75, 0x72, 0x73, 0x00,
    0x00, 0x00, 0x79, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x6c, 0x61, 0x74, 0x73,
    0x00, 0x00, 0x00, 0x00, 0x6c, 0x6f, 0x6e, 0x73, 0x00, 0x00, 0x00, 0x00, 0x53, 0x4e,
    0x4f, 0x44, 0x01, 0x00, 0x04, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0xa8, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x98, 0x03,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x20, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x30, 0x04, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x03, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x54, 0x52,
    0x45, 0x45, 0x00, 0x00, 0x01, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0xd0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x04, 0x00, 0x01, 0x00, 0x00, 0x00, 0x90, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x38, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x01, 0x03, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x04, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x05, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x02, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x03, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x11, 0x20, 0x3f, 0x00,
    0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x00, 0x34, 0x0b, 0x00, 0x34, 0xff, 0x03,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x03, 0x01, 0x48, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xc0, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0xe8, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x04, 0x40, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xf8, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe0, 0x3f,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0xf4, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xd0, 0x3f, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf0, 0x3f, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xfc, 0x3f,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe8, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x04, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf8, 0x3f, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0xe0, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x40, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xf4, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xd0, 0x3f,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0xf0, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0xfc, 0x3f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe8, 0x3f, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x04, 0x40, 0x01, 0x00, 0x04, 0x00, 0x01, 0x00, 0x00, 0x00,
    0x68, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x18, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x01, 0x01, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x05, 0x00,
    0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x03, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x08, 0x00, 0x00, 0x08, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x18, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x03, 0x01, 0x80, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x04, 0x00,
    0x01, 0x00, 0x00, 0x00, 0x70, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
    0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x01, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x05, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x02, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x11, 0x20,
    0x3f, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x00, 0x34, 0x0b, 0x00, 0x34,
    0xff, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x18, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x03, 0x01, 0x18, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x18, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x2d, 0x40, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x0a, 0xc0,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x48, 0x40, 0x01, 0x00, 0x04, 0x00, 0x01, 0x00,
    0x00, 0x00, 0x70, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x18, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x01, 0x01, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x05, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x02, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x03, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x11, 0x20, 0x3f, 0x00,
    0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x00, 0x34, 0x0b, 0x00, 0x34, 0xff, 0x03,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x03, 0x01, 0xb0, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x40, 0x30, 0xc0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x40, 0x42, 0x40, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x01, 0x40).map(_.toByte)
  private val goldenF32: Array[Byte] = Array[Int](
    0x89, 0x48, 0x44, 0x46, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08,
    0x08, 0x00, 0x04, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xc0, 0x01,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x60, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
    0x01, 0x00, 0x01, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x11, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe8, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x88, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x48, 0x45, 0x41, 0x50,
    0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xa8, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x61, 0x72, 0x72, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x53, 0x4e, 0x4f, 0x44, 0x01, 0x00, 0x01, 0x00, 0x08, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x18, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x54, 0x52, 0x45, 0x45, 0x00, 0x00,
    0x01, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xb8, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x01, 0x00, 0x04, 0x00, 0x01, 0x00, 0x00, 0x00, 0x80, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x01, 0x00, 0x28, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x02, 0x01, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x05, 0x00, 0x08, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x02, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x18, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x11, 0x20, 0x1f, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x20, 0x00, 0x17, 0x08, 0x00, 0x17, 0x7f, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x08, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x01, 0xa8, 0x01, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x3f, 0x00, 0x00, 0xa0, 0xbf, 0x00, 0x00,
    0x00, 0x40, 0x00, 0x00, 0x60, 0x40, 0x00, 0x00, 0x00, 0xbe, 0x00, 0x00, 0xe0, 0x40).map(_.toByte)
  private val goldenI4: Array[Byte] = Array[Int](
    0x89, 0x48, 0x44, 0x46, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08,
    0x08, 0x00, 0x04, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xa0, 0x01,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x60, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
    0x01, 0x00, 0x01, 0x00, 0x00, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x11, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0xe8, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x88, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x48, 0x45, 0x41, 0x50,
    0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xa8, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x6d, 0x61, 0x73, 0x6b, 0x00, 0x00,
    0x00, 0x00, 0x53, 0x4e, 0x4f, 0x44, 0x01, 0x00, 0x01, 0x00, 0x08, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x18, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x54, 0x52, 0x45, 0x45, 0x00, 0x00,
    0x01, 0x00, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
    0xff, 0xff, 0xff, 0xff, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xb8, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x01, 0x00, 0x04, 0x00, 0x01, 0x00, 0x00, 0x00, 0x68, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x01, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x01, 0x01, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x04, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x05, 0x00, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x02, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x10, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x10, 0x08, 0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x20, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x08, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x01,
    0x90, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xfe, 0xff, 0xff, 0xff, 0x00, 0x00,
    0x00, 0x00, 0x05, 0x00, 0x00, 0x00, 0x40, 0xe2, 0x01, 0x00).map(_.toByte)

  test("CropHarvest-shaped instance: four datasets, shapes, dtypes, exact values") {
    val ds = Hdf5Codec.decode(goldenInstance).getOrElse(fail("golden refused"))
      .map(d => d.name -> d).toMap
    assert(ds.keySet == Set("hours", "y", "lats", "lons"))
    val x = ds("hours")
    assert(x.shape == Seq(3L, 4L, 2L) && x.dtype == "f8")
    val expX = (0 until 24).map(i => ((i * 7 + 3) % 11) * 0.25)
    assert(x.values.toSeq == expX, "x payload drifted")
    assert(ds("y").dtype == "i8" && ds("y").values.toSeq == Seq(1.0, 0.0, 1.0))
    assert(ds("lats").values.toSeq == Seq(14.5, -3.25, 48.0))
    assert(ds("lons").values.toSeq == Seq(-16.25, 36.5, 2.125))
  }

  test("float32 and int32 datasets widen exactly") {
    val f = Hdf5Codec.decode(goldenF32).getOrElse(fail("f32 refused"))
    assert(f.head.name == "arr" && f.head.dtype == "f4")
    assert(f.head.shape == Seq(2L, 3L))
    assert(f.head.values.toSeq == Seq(0.5, -1.25, 2.0, 3.5, -0.125, 7.0))
    val i = Hdf5Codec.decode(goldenI4).getOrElse(fail("i4 refused"))
    assert(i.head.dtype == "i4")
    assert(i.head.values.toSeq == Seq(-2.0, 0.0, 5.0, 123456.0))
  }

  test("refusal contract: corruption classes return None, never throw") {
    val good = goldenF32
    def mutate(at: Int, b: Int) = { val c = good.clone(); c(at) = b.toByte; c }
    assert(Hdf5Codec.decode(Array.emptyByteArray).isEmpty, "empty")
    assert(Hdf5Codec.decode(good.take(95)).isEmpty, "shorter than superblock")
    assert(Hdf5Codec.decode(mutate(0, 0x00)).isEmpty, "bad signature")
    assert(Hdf5Codec.decode(mutate(8, 2)).isEmpty, "superblock v2 refused (v2 headers)")
    assert(Hdf5Codec.decode(mutate(13, 4)).isEmpty, "4-byte offsets out of envelope")
    // truncate mid-data: the layout message's size check must refuse
    assert(Hdf5Codec.decode(good.dropRight(8)).isEmpty, "truncated payload")
    // corrupt the TREE signature
    val treeAt = good.indexOfSlice("TREE".getBytes("US-ASCII"))
    assert(treeAt > 0)
    assert(Hdf5Codec.decode(mutate(treeAt, 'X')).isEmpty, "corrupt b-tree sig")
    // corrupt the SNOD signature
    val snodAt = good.indexOfSlice("SNOD".getBytes("US-ASCII"))
    assert(snodAt > 0)
    assert(Hdf5Codec.decode(mutate(snodAt, 'X')).isEmpty, "corrupt symbol node sig")
    // flip the layout class to chunked (2): out of envelope
    val heapAt = good.indexOfSlice("HEAP".getBytes("US-ASCII"))
    assert(Hdf5Codec.decode(mutate(heapAt, 'X')).isEmpty, "corrupt heap sig")
  }

  test("u64 dims whose product overflows Long are refused, not allocated") {
    // Find a v1 dataspace message (version=1, rank=3, flags=1, 5
    // reserved bytes) and rewrite its three u64 dims to 2^21 each:
    // the plain product is 2^63 — Long overflow past the MaxElements
    // gate — which used to reach new Array with a wrapped size.
    val c = goldenInstance.clone()
    val pat = Array[Byte](1, 3, 1, 0, 0, 0, 0, 0)
    val at = c.indexOfSlice(pat)
    assert(at > 0, "no rank-3 dataspace found in golden")
    val dim = Array[Byte](0, 0, 0x20, 0, 0, 0, 0, 0) // 2^21 LE
    for (k <- 0 until 3; j <- 0 until 8) c(at + 8 + k * 8 + j) = dim(j)
    assert(Hdf5Codec.decode(c).isEmpty, "overflowing dims accepted")
  }

  test("single-byte fuzz sweep: decode never throws (catch-all contract)") {
    val good = goldenInstance
    val fz = new FuzzDigest
    var i = 0
    while (i < good.length) {
      val c = good.clone(); c(i) = 0xff.toByte
      fz.add(Hdf5Codec.decode(c))
      val d = good.clone(); d(i) = 0x00
      fz.add(Hdf5Codec.decode(d))
      i += 3
    }
    assert(fz.hex == "816/666:1c769ec1a23a4463", fz.hex)
  }

  test("chunked + deflate datasets decode exactly, edge chunks clipped") {
    // written by tools/h5_golden.py: grid (5,7) f8 in 2x3 gzip chunks
    // (9 chunks, right/bottom edges padded) + cvec (10,) i4 in (4,) chunks
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/chunked.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("chunked file refused"))
    assert(ds.map(_.name) == Seq("cvec", "grid"))
    val grid = ds.find(_.name == "grid").get
    assert(grid.shape == Seq(5L, 7L) && grid.dtype == "f8")
    val expGrid = for (r <- 0 until 5; c <- 0 until 7)
      yield ((r * 7 + c) * 3 + 1) * 0.5
    assert(grid.values.toSeq == expGrid)
    val cvec = ds.find(_.name == "cvec").get
    assert(cvec.shape == Seq(10L) && cvec.dtype == "i4")
    assert(cvec.values.toSeq == (0 until 10).map(v => (v * v - 7).toDouble))
  }

  test("shuffle filter, 2-level chunk B-tree, and their combination decode exactly") {
    // written by tools/h5_golden.py round-13 extension: sgrid (6,5) f8
    // shuffle+gzip; deep (9,8) i2 in (2,3) chunks under an internal
    // B-tree node over two leaves; both (7,4) f4 shuffle+gzip AND a
    // 2-level tree
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/shuffled.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("shuffled file refused"))
    assert(ds.map(_.name) == Seq("both", "deep", "sgrid"))
    val sg = ds.find(_.name == "sgrid").get
    assert(sg.shape == Seq(6L, 5L) && sg.dtype == "f8")
    val expS = for (r <- 0 until 6; c <- 0 until 5)
      yield ((r * 5 + c) * 7 + 2) * 0.25
    assert(sg.values.toSeq == expS)
    val dp = ds.find(_.name == "deep").get
    assert(dp.shape == Seq(9L, 8L) && dp.dtype == "i2")
    val expD = for (r <- 0 until 9; c <- 0 until 8)
      yield (((r * 8 + c) * 13 + 5) % 1000 - 300).toDouble
    assert(dp.values.toSeq == expD)
    val bo = ds.find(_.name == "both").get
    assert(bo.shape == Seq(7L, 4L) && bo.dtype == "f4")
    assert(bo.values.toSeq == (0 until 28).map(v => (v * 0.5 - 3.0).toFloat.toDouble))
  }

  test("v2 superblock / OHDR world: compact links, v2 dataspaces, chunked combo") {
    // written by tools/h5_golden.py write_h5_v2: superblock v2 with a
    // lookup3-checksummed prefix, OHDR root group carrying inline hard
    // links (no fractal heap), OHDR dataset headers with v2
    // dataspaces — contiguous f8/i2 plus one gzip-chunked f4 under a
    // v1 chunk B-tree (the h5py libver='latest' shape minus layout-v4
    // chunk indexes)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/v2latest.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("v2 file refused"))
    assert(ds.map(_.name) == Seq("cont", "ints", "zch"))
    val cont = ds.find(_.name == "cont").get
    assert(cont.shape == Seq(3L, 4L) && cont.dtype == "f8")
    assert(cont.values.toSeq ==
      (0 until 12).map(i => ((i * 11 + 4) % 23) * 0.125 - 1.0))
    val ints = ds.find(_.name == "ints").get
    assert(ints.shape == Seq(9L) && ints.dtype == "i2")
    assert(ints.values.toSeq ==
      (0 until 9).map(i => (((i * 5 + 2) % 400) - 150).toDouble))
    val zch = ds.find(_.name == "zch").get
    assert(zch.shape == Seq(4L, 5L) && zch.dtype == "f4")
    assert(zch.values.toSeq ==
      (0 until 20).map(i => ((i * 3 + 1) * 0.5).toFloat.toDouble))
  }

  test("layout-v4 chunk indexes: single-chunk, implicit, and fixed array decode exactly") {
    // written by tools/h5_golden.py: fa (6,7) f4 gzip chunks (3,4)
    // under an unpaged Fixed Array (FAHD+FADB, filtered elements);
    // imp (8,) i4 raw contiguous implicit chunks; sc (5,6) f8 gzip
    // single chunk — the h5py libver='latest' chunked shapes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/v4chunks.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("v4 file refused"))
    assert(ds.map(_.name) == Seq("fa", "imp", "sc"))
    val fa = ds.find(_.name == "fa").get
    assert(fa.shape == Seq(6L, 7L) && fa.dtype == "f4")
    assert(fa.values.toSeq ==
      (0 until 42).map(i => ((i * 7 + 2) * 0.25).toFloat.toDouble))
    val imp = ds.find(_.name == "imp").get
    assert(imp.shape == Seq(8L) && imp.dtype == "i4")
    assert(imp.values.toSeq ==
      (0 until 8).map(i => (((i * 9 + 1) % 250) - 100).toDouble))
    val sc = ds.find(_.name == "sc").get
    assert(sc.shape == Seq(5L, 6L) && sc.dtype == "f8")
    assert(sc.values.toSeq == (0 until 30).map(i => ((i * 17 + 3) % 31) * 0.5))
  }

  test("v4 refusals: extensible-array/v2-btree indexes and fuzz never throw") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/v4chunks.h5"))
    // flip the Fixed Array index type (3) to extensible array (4):
    // the layout message reads (4, 2, 0, rank+1, 8, dims...) — find
    // the FAHD-pointing layout by its index-type byte position
    val fahdAt = good.indexOfSlice("FAHD".getBytes("US-ASCII"))
    assert(fahdAt > 0)
    // v4 layout for "fa": version 4, class 2, flags 0, dimy 3, enc 8
    val layAt = good.indexOfSlice(Array[Byte](4, 2, 0, 3, 8))
    assert(layAt > 0, "v4 layout message not found")
    val idxTypeAt = layAt + 5 + 8 * 3
    assert(good(idxTypeAt) == 3, "expected fixed-array index type")
    // flipping 3 → 4 now parses the EXTENSIBLE-ARRAY path, which must
    // refuse on the signature (the bytes there spell FAHD, not EAHD)
    val c = good.clone(); c(idxTypeAt) = 4
    assert(Hdf5Codec.decode(c).isEmpty, "FAHD bytes accepted as an EA header")
    val c5 = good.clone(); c5(idxTypeAt) = 5
    assert(Hdf5Codec.decode(c5).isEmpty, "v2-btree index accepted")
    val fz = new FuzzDigest
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = 0x13
      fz.add(Hdf5Codec.decode(m))
      j += 4
    }
    assert(fz.hex == "224/52:a6dcc58f9a92f44d", fz.hex)
  }

  test("layout-v4 extensible array: index-block elements, EADB and EASB walks decode exactly") {
    // written by tools/h5_golden.py with the H5D chunk-client creation
    // params (max_bits 32, idx_blk 4, min_ptrs 4, min_elmts 16, page
    // bits 10): ea1 (100,) f4 gzip chunks (4,) — 25 chunks spanning
    // the 4 index-block elements, a full sblk0 data block and a
    // PARTIAL sblk1 block (27 undefined-fill slots); ea2 (9,10) f8
    // chunks (2,3) — 2-D grid with edge clipping; eadeep (2000,) i2
    // chunks (4,) — 500 chunks deep enough that super block 4's four
    // data blocks hang off an EASB secondary block
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/eachunks.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("EA file refused"))
    assert(ds.map(_.name) == Seq("ea1", "ea2", "eadeep", "earaw"))
    // client-0 (unfiltered) extensible array: what h5py writes for a
    // resizable dataset WITHOUT compression — elements are bare
    // chunk addresses, raw full-size chunks
    val earaw = ds.find(_.name == "earaw").get
    assert(earaw.shape == Seq(48L) && earaw.dtype == "i4")
    assert(earaw.values.toSeq ==
      (0 until 48).map(i => (((i * 31 + 9) % 500) - 250).toDouble))
    val ea1 = ds.find(_.name == "ea1").get
    assert(ea1.shape == Seq(100L) && ea1.dtype == "f4")
    assert(ea1.values.toSeq ==
      (0 until 100).map(i => (((i * 13 + 5) % 101) * 0.25 - 8.0).toFloat.toDouble))
    val ea2 = ds.find(_.name == "ea2").get
    assert(ea2.shape == Seq(9L, 10L) && ea2.dtype == "f8")
    assert(ea2.values.toSeq ==
      (for (r <- 0 until 9; c <- 0 until 10) yield ((r * 10 + c) * 7 + 3) * 0.125))
    val deep = ds.find(_.name == "eadeep").get
    assert(deep.shape == Seq(2000L) && deep.dtype == "i2")
    assert(deep.values.toSeq ==
      (0 until 2000).map(i => (((i * 29 + 11) % 2001) - 1000).toDouble))
  }

  test("extensible-array refusals: paged blocks, corrupt signatures, truncation, fuzz") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/eachunks.h5"))
    def mutate(at: Int, v: Int) = { val c = good.clone(); c(at) = v.toByte; c }
    for (sig <- Seq("EAHD", "EAIB", "EADB", "EASB")) {
      val at = good.indexOfSlice(sig.getBytes("US-ASCII"))
      assert(at > 0, s"$sig not present in fixture")
      assert(Hdf5Codec.decode(mutate(at, 'X')).isEmpty, s"corrupt $sig accepted")
    }
    // shrink max-dblk-page-nelmts-bits to 0: the reader then walks
    // every data block as PAGED, but the file's bytes hold the
    // UNPAGED layout — the mismatched page spans/checksums must
    // refuse, never alias to shifted elements
    val eahdAt = good.indexOfSlice("EAHD".getBytes("US-ASCII"))
    assert(good(eahdAt + 11) == 10, "expected page bits 10")
    assert(Hdf5Codec.decode(mutate(eahdAt + 11, 0)).isEmpty,
      "mis-paged layout accepted")
    // non-power-of-two doubling knobs break the super-block math
    assert(Hdf5Codec.decode(mutate(eahdAt + 9, 17)).isEmpty,
      "non-pow2 min-elmts accepted")
    // truncation anywhere in the chunk tail must refuse, never alias
    assert(Hdf5Codec.decode(good.dropRight(8)).isEmpty, "truncated EA payload")
    val fz = new FuzzDigest
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = 0x13
      fz.add(Hdf5Codec.decode(m))
      j += 4
    }
    assert(fz.hex == "5478/1381:5120f690ce5e8794", fz.hex)
  }

  test("layout-v4 v2 B-tree: depth-0 leaf roots and a depth-1 BTIN tree decode exactly") {
    // written by tools/h5_golden.py (node size 2048, the H5D default):
    // bt1 (60,) f4 and bt2 (9,10) f8 gzip — depth-0 single-leaf
    // roots; btdeep (2000,) i4 gzip, 500 chunks — a depth-1 tree
    // whose internal root holds real separator records between six
    // leaves; btraw (40,) i2 raw — record type 10 (no size/mask)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/btchunks.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("v2-btree file refused"))
    assert(ds.map(_.name) == Seq("bt1", "bt2", "bt3deep", "btdeep", "btraw"))
    // depth-2: 6000 chunks exceed the 5269-record depth-1 capacity at
    // node size 2048, so the root is an internal node over internal
    // children (child pointers carry the cumulative-count field)
    val bt3 = ds.find(_.name == "bt3deep").get
    assert(bt3.shape == Seq(24000L) && bt3.dtype == "i1")
    assert(bt3.values.toSeq ==
      (0 until 24000).map(i => (((i * 7 + 3) % 256) - 128).toDouble))
    val bt1 = ds.find(_.name == "bt1").get
    assert(bt1.shape == Seq(60L) && bt1.dtype == "f4")
    assert(bt1.values.toSeq ==
      (0 until 60).map(i => (((i * 19 + 7) % 83) * 0.5 - 11.0).toFloat.toDouble))
    val bt2 = ds.find(_.name == "bt2").get
    assert(bt2.values.toSeq ==
      (for (r <- 0 until 9; c <- 0 until 10) yield ((r * 10 + c) * 11 + 1) * 0.0625))
    val deep = ds.find(_.name == "btdeep").get
    assert(deep.shape == Seq(2000L) && deep.dtype == "i4")
    assert(deep.values.toSeq ==
      (0 until 2000).map(i => (((i * 37 + 13) % 4001) - 2000).toDouble))
    val raw = ds.find(_.name == "btraw").get
    assert(raw.dtype == "i2")
    assert(raw.values.toSeq ==
      (0 until 40).map(i => (((i * 23 + 3) % 199) - 77).toDouble))
  }

  test("v2 B-tree refusals: depth>1, type mismatch, corrupt signatures, fuzz") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/btchunks.h5"))
    def mutate(at: Int, v: Int) = { val c = good.clone(); c(at) = v.toByte; c }
    for (sig <- Seq("BTHD", "BTIN", "BTLF")) {
      val at = good.indexOfSlice(sig.getBytes("US-ASCII"))
      assert(at > 0, s"$sig not present in fixture")
      assert(Hdf5Codec.decode(mutate(at, 'X')).isEmpty, s"corrupt $sig accepted")
    }
    val bthdAt = good.indexOfSlice("BTHD".getBytes("US-ASCII"))
    // depth field (u16 at +12): the hostile-depth backstop refuses
    // past 8, and a LYING depth on a shallower tree refuses on the
    // child signature mismatch instead of misparsing
    assert(Hdf5Codec.decode(mutate(bthdAt + 12, 9)).isEmpty,
      "depth-9 tree accepted")
    assert(Hdf5Codec.decode(mutate(bthdAt + 12, 2)).isEmpty,
      "lying depth accepted")
    // record type 10 under a filter pipeline is a contradiction
    assert(good(bthdAt + 5) == 11)
    assert(Hdf5Codec.decode(mutate(bthdAt + 5, 10)).isEmpty,
      "raw record type accepted for a filtered dataset")
    assert(Hdf5Codec.decode(good.dropRight(8)).isEmpty, "truncated payload")
    val fz = new FuzzDigest
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = 0x13
      fz.add(Hdf5Codec.decode(m))
      j += 4
    }
    assert(fz.hex == "60718/23401:4fb6151b4c67fbdd", fz.hex)
  }

  test("paged fixed array: bitmap-gated element pages decode exactly") {
    // fapaged.h5: (5000,) i2 gzip chunks (4,) — 1250 chunks over a
    // 1024-element page, so the FADB carries a page bitmap and TWO
    // checksummed element pages (the second partial)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/fapaged.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("paged FA refused"))
    val fap = ds.find(_.name == "fap").get
    assert(fap.shape == Seq(5000L) && fap.dtype == "i2")
    assert(fap.values.toSeq ==
      (0 until 5000).map(i => (((i * 41 + 17) % 3001) - 1500).toDouble))
    // client-0 (unfiltered) fixed array in the same file: bare-address
    // elements over raw chunks
    val faraw = ds.find(_.name == "faraw").get
    assert(faraw.shape == Seq(44L) && faraw.dtype == "f8")
    assert(faraw.values.toSeq ==
      (0 until 44).map(i => (i * 13 + 5) * 0.25 - 20.0))
    // clearing page-1's bitmap bit makes its 226 chunks unallocated:
    // the decode must succeed with zeros there, not misalign
    val bmAt = bytes.indexOfSlice("FADB".getBytes("US-ASCII")) + 14
    val c = bytes.clone(); c(bmAt) = 1 // keep page 0 only
    val ds2 = Hdf5Codec.decode(c).getOrElse(fail("bitmap-gated decode refused"))
    val fap2 = ds2.find(_.name == "fap").get
    assert(fap2.values.take(4096).toSeq == fap.values.take(4096).toSeq)
    assert(fap2.values.drop(4096).forall(_ == 0.0))
    // truncating the pages region must refuse, never alias
    assert(Hdf5Codec.decode(bytes.dropRight(8)).isEmpty, "truncated pages")
    val fz = new FuzzDigest
    var j = 0
    while (j < bytes.length) {
      val m = bytes.clone(); m(j) = 0x13
      fz.add(Hdf5Codec.decode(m))
      j += 8
    }
    assert(fz.hex == "5126/336:8fbe16f751837155", fz.hex)
  }

  test("paged extensible array: EASB page-init bitmasks gate element pages") {
    // eapaged.h5: creation knobs mine=4/pgb=4 force super blocks u>=5
    // into PAGED data blocks (2 checksummed 16-element pages + a
    // per-data-block page-init bitmask in the owning EASB) — the
    // layout any resizable dataset gets past ~65k chunks at default
    // params. eap's super block 5 holds one fully-paged block and one
    // whose second page is uninitialized junk (never read); eapraw
    // reaches super block 6.
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/eapaged.h5"))
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("paged EA refused"))
    val eap = ds.find(_.name == "eap").get
    assert(eap.shape == Seq(670L) && eap.dtype == "f4")
    assert(eap.values.toSeq ==
      (0 until 670).map(i => ((i * 43 + 7) % 1301) * 0.25 - 160.0))
    val epr = ds.find(_.name == "eapraw").get
    assert(epr.shape == Seq(1200L) && epr.dtype == "i2")
    assert(epr.values.toSeq ==
      (0 until 1200).map(i => (((i * 53 + 19) % 4001) - 2000).toDouble))
    // clear page 1's init bit in eap's super-block-5 first bitmask:
    // its 16 elements (chunks 144..159 → dataset values 576..639)
    // become unallocated — decode must zero them, not misalign
    val sig = "EASB".getBytes("US-ASCII")
    val sb0 = bytes.indexOfSlice(sig)          // eap u=4 (unpaged)
    val sb1 = bytes.indexOfSlice(sig, sb0 + 4) // eap u=5 (paged)
    val bmAt = sb1 + 4 + 2 + 8 + 4 // sig + ver/client + hdraddr + blkoff
    assert(bytes(bmAt) == 3, "dblk0 bitmask should have both pages set")
    val c = bytes.clone(); c(bmAt) = 1
    val ds2 =
      Hdf5Codec.decode(c).getOrElse(fail("bitmask-gated decode refused"))
    val v2 = ds2.find(_.name == "eap").get.values
    assert(v2.take(576).toSeq == eap.values.take(576).toSeq)
    assert(v2.slice(576, 640).forall(_ == 0.0))
    assert(v2.drop(640).toSeq == eap.values.drop(640).toSeq)
    // truncating the trailing chunk region must refuse, never alias
    assert(Hdf5Codec.decode(bytes.dropRight(8)).isEmpty, "truncated")
    val fz = new FuzzDigest
    var j = 0
    while (j < bytes.length) {
      val m = bytes.clone(); m(j) = 0x5a
      fz.add(Hdf5Codec.decode(m))
      j += 7
    }
    assert(fz.hex == "2054/835:cb8c7e74bb344269", fz.hex)
  }

  test("paged data blocks referenced from the EA index block decode") {
    // eaipaged.h5: knobs mine=8/pgb=4 violate the library's creation
    // invariant min_elmts*min_ptrs <= 2^page_bits, so the u=3
    // INDEX-BLOCK data blocks hold 32 elements = 2 checksummed pages
    // of 16 — with NO page-init bitmap anywhere on disk. Liveness is
    // the grid bound: each dataset's last data block has a trailing
    // page of junk starting past the 100-chunk grid that the reader
    // must never touch. No EASB exists in this file at all.
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/eaipaged.h5"))
    assert(bytes.indexOfSlice("EASB".getBytes("US-ASCII")) < 0,
      "fixture should have no secondary blocks")
    val ds = Hdf5Codec.decode(bytes).getOrElse(fail("iblk-paged refused"))
    val ea = ds.find(_.name == "eaip").get
    assert(ea.shape == Seq(416L) && ea.dtype == "f4")
    assert(ea.values.toSeq ==
      (0 until 416).map(i => ((i * 37 + 23) % 1103) * 0.5 - 275.0))
    val er = ds.find(_.name == "eaipraw").get
    assert(er.shape == Seq(400L) && er.dtype == "i4")
    assert(er.values.toSeq ==
      (0 until 400).map(i => (((i * 61 + 31) % 3001) - 1500).toDouble))
    // truncation anywhere in the chunk tail must refuse, never alias
    assert(Hdf5Codec.decode(bytes.dropRight(8)).isEmpty, "truncated")
    // written-page witness: with no page-init bitmap on disk, a live
    // page's trailing lookup3 checksum is the only proof the page was
    // written — corrupting EITHER the page elements or the checksum
    // itself must REFUSE (junk chunk addresses never decoded). Page
    // geometry parsed from the file's own EAHD (entry size at +6,
    // max-bits at +7 → offset-size), EADB prefix = sig(4) + ver/
    // client(2) + hdr addr(8) + block offset(offSz) + checksum(4).
    val eahdAt = bytes.indexOfSlice("EAHD".getBytes("US-ASCII"))
    val eadbAt = bytes.indexOfSlice("EADB".getBytes("US-ASCII"))
    assert(eahdAt > 0 && eadbAt > 0, "EA blocks not found")
    val entry = bytes(eahdAt + 6) & 0xff
    val offSz = ((bytes(eahdAt + 7) & 0xff) + 7) / 8
    val pagesAt = eadbAt + 6 + 8 + offSz + 4
    val pageLen = 16 * entry + 4
    val elemCorrupt = bytes.clone()
    elemCorrupt(pagesAt + 3) = (elemCorrupt(pagesAt + 3) ^ 0x41).toByte
    assert(Hdf5Codec.decode(elemCorrupt).isEmpty,
      "corrupted live-page elements accepted (checksum witness off)")
    val ckCorrupt = bytes.clone()
    ckCorrupt(pagesAt + pageLen - 1) =
      (ckCorrupt(pagesAt + pageLen - 1) ^ 0x41).toByte
    assert(Hdf5Codec.decode(ckCorrupt).isEmpty,
      "corrupted live-page checksum accepted")
    val fz = new FuzzDigest
    var j = 0
    while (j < bytes.length) {
      val m = bytes.clone(); m(j) = 0x2e
      fz.add(Hdf5Codec.decode(m))
      j += 5
    }
    assert(fz.hex == "1739/734:5fc7846c515221c5", fz.hex)
  }

  test("v2 refusals: dense link storage and hostile continuations return None") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/v2latest.h5"))
    // the link-info message body starts (0, 0) then two UNDEF addrs;
    // pointing the fractal-heap address at hostile garbage must refuse
    // (dense storage now walks the heap — a bogus address dies in the
    // FRHP bounds/signature gate, not in a throw).
    // Search AFTER the root OHDR signature (the superblock's extension
    // address field matches the same byte pattern earlier in the file)
    val ohdrAt = good.indexOfSlice("OHDR".getBytes("US-ASCII"))
    assert(ohdrAt > 0, "no OHDR header")
    val li = good.indexOfSlice(
      Array[Byte](0, 0, -1, -1, -1, -1, -1, -1, -1, -1), ohdrAt)
    assert(li > 0, "link-info message not found")
    val c = good.clone()
    c(li + 2) = 0x10 // fractal heap addr no longer UNDEF
    assert(Hdf5Codec.decode(c).isEmpty, "dense link storage accepted")
    // superblock version 4 (nonexistent) refused
    val v4 = good.clone(); v4(8) = 4
    assert(Hdf5Codec.decode(v4).isEmpty)
    // single-byte fuzz: never throws, outcomes digest-pinned
    val fz = new FuzzDigest
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = 0x7f
      fz.add(Hdf5Codec.decode(m))
      j += 4
    }
    assert(fz.hex == "237/116:c187d0eccd7fdda2", fz.hex)
  }

  test("dense link storage: root direct block and FHIB + depth-1 name tree decode exactly") {
    val dense = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/dense.h5"))
    val ds = Hdf5Codec.decode(dense).get
    assert(ds.map(_.name) ==
      Seq("alpha", "beta", "delta", "epsilon", "gamma", "zeta"))
    assert(ds.head.values.toSeq == Seq(0.5, -1.25, 7.0))
    assert(ds(4).values.toSeq == Seq(-2.0, 0.25, 11.0, 4.5))

    val big = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/densebig.h5"))
    val bs = Hdf5Codec.decode(big).get
    assert(bs.size == 120)
    assert(bs.map(_.name) == (0 until 120).map(i => f"d$i%03d"))
    assert(bs(37).values.toSeq == Seq(18.5, -9.25, 37.125))
  }

  test("dense link refusals: truncated heap, huge/tiny objects, hash-index damage") {
    val dense = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/dense.h5"))
    val frhp = dense.indexOfSlice("FRHP".getBytes("US-ASCII"))
    val bthd = dense.indexOfSlice("BTHD".getBytes("US-ASCII"))
    val btlf = dense.indexOfSlice("BTLF".getBytes("US-ASCII"))
    assert(frhp > 0 && bthd > 0 && btlf > 0)
    // nonzero tiny-object count: out of envelope
    val t = dense.clone(); t(frhp + 102) = 1
    assert(Hdf5Codec.decode(t).isEmpty)
    // heap ID type flipped to huge (bits 4-5) in the first record
    val h = dense.clone(); h(btlf + 6 + 4) = 0x10
    assert(Hdf5Codec.decode(h).isEmpty)
    // record-size mismatch vs heap ID length
    val r = dense.clone(); r(bthd + 10) = 19
    assert(Hdf5Codec.decode(r).isEmpty)
    // truncations and single-byte fuzz over the dense structures:
    // never throw, outcomes digest-pinned
    val fz = new FuzzDigest
    (0 until 40).foreach(k => fz.add(Hdf5Codec.decode(dense.take(frhp + k * 7))))
    var j = frhp
    while (j < dense.length) {
      val m = dense.clone(); m(j) = 0x55
      fz.add(Hdf5Codec.decode(m))
      j += 3
    }
    assert(fz.hex == "212/105:133a2d94ba166bcd", fz.hex)
  }

  test("filter refusals: unknown ids, triple pipelines, hostile tree graphs return None") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/shuffled.h5"))
    // filter id 2 (shuffle) -> id 3 (fletcher32): out of envelope.
    // Pipeline v1 message body: version=1, nfilters=2, 6 reserved,
    // then the first filter's id (2, LE u16) at +8
    val pat = Array[Byte](1, 2, 0, 0, 0, 0, 0, 0, 2, 0)
    val pipeAt = good.indexOfSlice(pat)
    assert(pipeAt > 0, "two-filter pipeline message not found")
    val c = good.clone()
    c(pipeAt + 8) = 3
    assert(Hdf5Codec.decode(c).isEmpty, "unknown filter id accepted")
    // single-byte fuzz over the new file: never throws, outcomes digest-pinned
    val fz = new FuzzDigest
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = 0xff.toByte
      fz.add(Hdf5Codec.decode(m))
      j += 5
    }
    assert(fz.hex == "644/366:c44b9b7e53166822", fz.hex)
  }

  test("chunked refusals: hostile chunk-tree levels and truncated chunk streams return None") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/fixtures/q_hdf5_read/chunked.h5"))
    def mutate(at: Int, b: Byte): Array[Byte] = {
      val m = good.clone(); m(at) = b; m
    }
    // the chunk B-tree is the SECOND "TREE" in the file (the first
    // addresses the root group's symbol nodes)
    val t1 = good.indexOfSlice("TREE".getBytes("US-ASCII"))
    val t2 = good.indexOfSlice("TREE".getBytes("US-ASCII"), t1 + 4)
    assert(t2 > t1, "no chunk b-tree found")
    // claiming level 1 without real child nodes: the recursive walk
    // hits a non-TREE child and refuses (real 2-level trees decode —
    // see the shuffled.h5 test above)
    assert(Hdf5Codec.decode(mutate(t2 + 5, 1)).isEmpty, "hostile level-1 node accepted")
    // truncating the file mid-chunk must refuse, never throw
    assert(Hdf5Codec.decode(good.take(good.length - 20)).isEmpty, "truncated chunks")
  }

  test("distributed ingest: one row per dataset per file, corrupt files skipped") {
    val dir = java.nio.file.Files.createTempDirectory("h5scan").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "instance_a.h5"), goldenInstance)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "one_b.h5"), goldenF32)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.h5"), Array[Byte](1, 2, 3))
    val rows = graft.sources.GeoIngest.h5.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 5, s"expected 4 + 1 dataset rows, got ${rows.length}")
    assert(rows.count(_._1 == "instance_a") == 4)
    assert(rows.count(_._1 == "one_b") == 1)
    assert(!rows.exists(_._1 == "bad"), "corrupt file not skipped")
  }

  test("lookup3 matches the cross-engine reference values") {
    // known-answer vectors generated by the INDEPENDENT Python
    // implementation in tools/h5_golden.py (the fixture writer) —
    // the two impls must agree or the paged-EA written-page witness
    // check refuses valid fixtures / accepts junk.
    def h(b: Array[Byte]): Long =
      Hdf5Codec.lookup3(b, 0, b.length).toLong & 0xffffffffL
    assert(h(Array.empty) == 0xdeadbeefL)
    assert(h("a".getBytes) == 0x58d68708L)
    assert(h("abc".getBytes) == 0x0e397631L)
    assert(h("hello, world".getBytes) == 0x59a25215L)
    assert(h("0123456789abcdef".getBytes) == 0x68784a2fL)
    assert(h(Array.tabulate(37)(_.toByte)) == 0x12926a31L)
    assert(h(Array.fill(12)('x'.toByte)) == 0x2e4ffe2bL)
    assert(h(Array.fill(24)('y'.toByte)) == 0xc1ac5e49L)
    // offset/len windowing: hashing a slice equals hashing the copy
    val buf = "zzabczz".getBytes
    assert((Hdf5Codec.lookup3(buf, 2, 3).toLong & 0xffffffffL) == 0x0e397631L)
  }
}
