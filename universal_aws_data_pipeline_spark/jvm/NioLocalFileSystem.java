package universal_aws_data_pipeline_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem with a raw layer that sets permissions
 * through {@code java.nio} instead of forking {@code chmod}.
 *
 * <p>Without Hadoop's native library, {@link RawLocalFileSystem} runs
 * {@code Shell.execCommand("chmod", ...)} for every directory it makes and
 * every file it creates, and a partitioned write makes hundreds of each.
 * The bits set here are the ones the stock class would pass to
 * {@code chmod}. A mode beyond {@code 0777} (the sticky bit) has no
 * {@code java.nio} form and goes to the stock {@code setPermission}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_READ,
    PosixFilePermission.GROUP_EXECUTE, PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_READ,
  };

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with a fork-free {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException(e.getMessage());
      }
    }
  }
}
